"""The benchmark workloads: inputs, oracle answers, bodies, checks.

Each workload has four parts, run in this order:

- ``prepare`` (untimed, once per seed, cached): generate the inputs from the
  seed with the load generators (``corpus.synth_corpus`` and the Zipf
  generator below) and compute the oracle answers with independent code
  (``tests/oracle.py``, networkx, ``hashlib``).
- ``setup`` (timed as ``setup_s``, in the fresh process): read the input.
- ``result`` (timed as ``result_s``): the operator calls, each bracketed by
  a span and, when traced, a Spark job group ``{workload}:{layer}``; each
  call's output is materialized on the driver. It runs first as an untimed,
  unchecked warm-up (``warm=True``; zipf then makes only a short pagerank
  call) and then in timed iterations in the same JVM.
- ``verify`` (untimed, in the parent): compare every output with the
  cached oracle answer.

Sizes are fixed here, not by the seed, so every seed costs the same work.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pandas as pd

# Sizes are small on purpose: on a 4-core machine a fresh JVM spends ~15 s
# before the first operator call, the first pass of the calls takes 20-30 s
# more for class loading, code generation and JIT, and every Spark job
# carries ~0.1 s of driver work; a warm pass takes ~20 s (zipf) and ~9 s
# (ingest) however small the input.
# corpus_ingest: corpus parsed, written, fingerprinted, encoded and deduped.
INGEST_FILES, INGEST_DEGREE = 1000, 31
# zipf_shuffle_suite: dense long ids, src uniform, dst ~ Zipf(2.0). The hub
# takes 1/zeta(2) ~ 61% of the edges. salt="auto" salts when the top
# in-degree exceeds 2*E/P, so this salts on every machine with 4 or more
# shuffle partitions; Zipf(1.3) puts ~27% on the hub and salts only from 8.
ZIPF_VERTICES, ZIPF_EDGES, ZIPF_ALPHA = 3000, 30_000, 2.0
ZIPF_PR_SUPERSTEPS, ZIPF_LP_ROUNDS = 10, 5
# The warm-up pass is a pagerank call of this many supersteps: the first
# pagerank call in a JVM carries nearly all of the suite's one-time cost
# (class loading, code generation, JIT), most of it before the first
# superstep; the other calls run within half a second of their warm time.
WARM_SUPERSTEPS = 3
# minhash pairs re-verified in Python per repetition
DEDUP_SAMPLE = 256

WORKLOADS = ("corpus_ingest", "zipf_shuffle_suite")

# operator calls per workload, in call order (ops_failed_ratio's denominator)
OPS = {
    "corpus_ingest": [
        "load_corpus", "extract_edges", "sha256_manifest", "encode", "minhash_near_dups",
    ],
    "zipf_shuffle_suite": [
        "pagerank", "connected_components", "label_propagation", "triangle_count",
    ],
}


# ---------------------------------------------------------------------------
# load generators and oracle answers (untimed)
# ---------------------------------------------------------------------------


def zipf_edges(n_vertices: int, n_edges: int, alpha: float, seed: int) -> pd.DataFrame:
    """``(src, dst)`` longs: src uniform over ``[0, V)``, dst drawn from a
    Zipf(alpha) law bounded to V ranks, rank r mapped to id r-1, so vertex 0
    is the hub."""
    rng = np.random.default_rng(seed)
    w = np.arange(1, n_vertices + 1, dtype=np.float64) ** (-alpha)
    cdf = np.cumsum(w)
    cdf /= cdf[-1]
    dst = np.minimum(np.searchsorted(cdf, rng.random(n_edges)), n_vertices - 1)
    src = rng.integers(0, n_vertices, size=n_edges)
    return pd.DataFrame({"src": src.astype(np.int64), "dst": dst.astype(np.int64)})


def _write(df: pd.DataFrame, d: str, name: str) -> None:
    df.to_parquet(os.path.join(d, name), index=False)


def _prepare_ingest(seed: int, d: str) -> dict:
    from duwamish_spark.corpus import synth_corpus

    corpus, truth = synth_corpus(INGEST_FILES, INGEST_DEGREE, seed)
    os.makedirs(os.path.join(d, "corpus"))
    _write(corpus, os.path.join(d, "corpus"), "part-0.parquet")
    _write(truth, d, "truth_edges.parquet")
    sha = corpus[["repo", "path"]].copy()
    sha["sha256"] = [hashlib.sha256(c.encode()).hexdigest() for c in corpus["content"]]
    _write(sha, d, "oracle_sha256.parquet")
    return {"files": len(corpus), "edges": len(truth)}


def _prepare_zipf(seed: int, d: str) -> dict:
    import networkx as nx

    from tests.oracle import lp_oracle, pagerank_oracle

    e = zipf_edges(ZIPF_VERTICES, ZIPF_EDGES, ZIPF_ALPHA, seed)
    _write(e, d, "edges.parquet")
    ids = list(range(ZIPF_VERTICES))
    pairs = list(zip(e["src"].tolist(), e["dst"].tolist()))
    ranks, _ = pagerank_oracle(ids, pairs, fixed_supersteps=ZIPF_PR_SUPERSTEPS)
    g = nx.Graph()
    g.add_nodes_from(ids)
    g.add_edges_from((s, t) for s, t in pairs if s != t)
    cc = {}
    for comp in nx.connected_components(g):
        low = min(comp)
        cc.update((v, low) for v in comp)
    lp = lp_oracle(ids, pairs, rounds=ZIPF_LP_ROUNDS)
    _write(
        pd.DataFrame({
            "id": ids,
            "rank": [ranks[v] for v in ids],
            "cc": [cc[v] for v in ids],
            "lp": [lp[v] for v in ids],
        }),
        d, "oracle.parquet",
    )
    return {
        "vertices": ZIPF_VERTICES,
        "edges": len(e),
        "top_in_degree": int(e["dst"].value_counts().iloc[0]),
        "triangles": sum(nx.triangles(g).values()) // 3,
    }


_PREPARE = {
    "corpus_ingest": _prepare_ingest,
    "zipf_shuffle_suite": _prepare_zipf,
}


def prepare(workload: str, seed: int, cache_root: str) -> tuple[str, dict]:
    """Inputs and oracle answers for ``(workload, seed)``: built once into
    a temporary directory, renamed into place, reused afterwards. The
    directory name carries the sizes, so changing one rebuilds."""
    sizes = {
        "corpus_ingest": (INGEST_FILES, INGEST_DEGREE),
        "zipf_shuffle_suite": (
            ZIPF_VERTICES, ZIPF_EDGES, ZIPF_ALPHA, ZIPF_PR_SUPERSTEPS, ZIPF_LP_ROUNDS,
        ),
    }[workload]
    d = os.path.join(cache_root, f"{workload}-s{seed}-" + "-".join(map(str, sizes)))
    meta_path = os.path.join(d, "meta.json")
    if not os.path.exists(meta_path):
        tmp = f"{d}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        try:
            meta = _PREPARE[workload](seed, tmp)
            with open(os.path.join(tmp, "meta.json"), "w") as f:
                json.dump(meta, f)
            shutil.rmtree(d, ignore_errors=True)
            os.replace(tmp, d)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    with open(meta_path) as f:
        return d, json.load(f)


# ---------------------------------------------------------------------------
# workload bodies (run inside the fresh process; ``rep`` is rep.Rep)
# ---------------------------------------------------------------------------


def _pregel_summary(res) -> dict:
    walls = [m["wall_ms"] for m in res.metrics]
    return {
        "supersteps": res.supersteps,
        "messages": int(sum(m.get("message_count") or 0 for m in res.metrics)),
        "superstep_ms": walls,
    }


def setup_ingest(rep) -> dict:
    return {}


def result_ingest(rep, st: dict, warm: bool = False) -> dict:
    from pyspark.sql import functions as F

    from duwamish_spark.functions.dedup import minhash_near_dups
    from duwamish_spark.graph import corpus_vertex_ids, prepare_encoding, vertices_from
    from duwamish_spark.parse import extract_edges, sha256_manifest
    from duwamish_spark.sources import load_corpus, write_edges

    spark = rep.spark
    out = {}
    corpus = None
    with rep.op("load_corpus", "sources"):
        corpus = load_corpus(spark, rep.input("corpus"))
    edges_path = rep.scratch("edges")
    with rep.op("extract_edges", "parse", pyworker_cpu=True):
        write_edges(extract_edges(corpus), edges_path)
        out["edges_path"] = edges_path
    with rep.op("sha256_manifest", "parse.sha256"):
        out["sha256"] = sha256_manifest(corpus).toPandas()
    with rep.op("encode", "graph"):
        written = spark.read.parquet(edges_path)
        verts = vertices_from(corpus_vertex_ids(corpus), written)
        mapping, _, e_enc = prepare_encoding(spark, verts, written)
        out["mapping"] = mapping.toPandas()
        out["encoded_edges"] = e_enc.count()
    with rep.op("minhash_near_dups", "functions.dedup"):
        docs = corpus.select(
            F.concat_ws("/", "repo", "path").alias("doc_id"), F.col("content").alias("text")
        )
        out["pairs"] = minhash_near_dups(docs).toPandas()
    return out


def outputs_ingest(rep, st: dict, out: dict) -> None:
    if "edges_path" in out:
        edges = pd.read_parquet(out["edges_path"])
        rep.save(edges, "edges.parquet")
        rep.counts["parse_edges_out"] = len(edges)
    for key in ("sha256", "mapping", "pairs"):
        if key in out:
            rep.save(out[key], f"{key}.parquet")
    if "pairs" in out:
        rep.counts["dedup_pairs"] = len(out["pairs"])
    if "encoded_edges" in out:
        rep.counts["encoded_edges"] = out["encoded_edges"]


def setup_zipf(rep) -> dict:
    spark = rep.spark
    with rep.span("read_input", "input"):
        edges = spark.read.parquet(rep.input("edges.parquet")).persist()
        rep.counts["edges"] = edges.count()
        verts = spark.range(ZIPF_VERTICES)
    return {"edges": edges, "verts": verts}


def result_zipf(rep, st: dict, warm: bool = False) -> dict:
    from duwamish_spark.algorithms import (
        connected_components,
        label_propagation,
        pagerank,
        triangle_count,
    )

    spark, v, e = rep.spark, st["verts"], st["edges"]
    out = {}
    with rep.op("pagerank", "algorithms.pagerank"):
        res = pagerank(
            spark, v, e, tol=0.0, max_supersteps=WARM_SUPERSTEPS if warm else ZIPF_PR_SUPERSTEPS,
            strategy="shuffle", salt="auto", checkpoint_dir=rep.scratch("ckpt"),
        )
        out["rank"] = res.state.toPandas()
        rep.counts["pregel"] = _pregel_summary(res)
    if warm:
        return out
    with rep.op("connected_components", "algorithms.components"):
        res = connected_components(spark, v, e, strategy="shuffle")
        out["cc"] = res.state.toPandas()
        rep.counts["cc_rounds"] = res.supersteps
    with rep.op("label_propagation", "algorithms.labelprop"):
        res = label_propagation(spark, v, e, max_supersteps=ZIPF_LP_ROUNDS, strategy="shuffle")
        out["lp"] = res.state.toPandas()
    with rep.op("triangle_count", "algorithms.triangles"):
        out["triangles"] = int(triangle_count(e))
    return out


def outputs_zipf(rep, st: dict, out: dict) -> None:
    from duwamish_spark.graph import suggest_salt

    # the salt pagerank's salt="auto" chose: the same rule on the same
    # in-degrees (encoding renames ids only) and partition count
    parts = int(rep.spark.conf.get("spark.sql.shuffle.partitions"))
    rep.counts["salt"] = suggest_salt(st["edges"], parts)
    for key in ("rank", "cc", "lp"):
        if key in out:
            rep.save(out[key], f"{key}.parquet")
    if "triangles" in out:
        rep.counts["triangles"] = out["triangles"]


BODIES = {
    "corpus_ingest": (setup_ingest, result_ingest, outputs_ingest),
    "zipf_shuffle_suite": (setup_zipf, result_zipf, outputs_zipf),
}


# ---------------------------------------------------------------------------
# correctness checks (untimed, in the parent)
# ---------------------------------------------------------------------------


def _read(d: str, name: str) -> pd.DataFrame | None:
    p = os.path.join(d, name)
    return pd.read_parquet(p) if os.path.exists(p) else None


def _ranks_match(got: pd.DataFrame | None, want: pd.DataFrame) -> str | None:
    """Same vertex set and every rank within 1e-6 of the oracle's."""
    if got is None:
        return "no output"
    if len(got) != len(want) or got["id"].duplicated().any():
        return f"{len(got)} rows, want {len(want)} distinct ids"
    m = want[["id", "rank"]].merge(got[["id", "rank"]], on="id", how="left", suffixes=("", "_got"))
    if m["rank_got"].isna().any():
        return "vertex ids differ"
    diff = float(np.max(np.abs(m["rank_got"].to_numpy() - m["rank"].to_numpy())))
    return None if diff <= 1e-6 else f"max |rank - oracle| = {diff:.3g} > 1e-6"


def _labels_match(got: pd.DataFrame | None, want: pd.DataFrame, col: str) -> str | None:
    if got is None:
        return "no output"
    g = dict(zip(got["id"].tolist(), got["label"].tolist()))
    w = dict(zip(want["id"].tolist(), want[col].tolist()))
    if len(got) != len(g) or g.keys() != w.keys():
        return "vertex ids differ"
    bad = sum(1 for k in w if g[k] != w[k])
    return None if bad == 0 else f"{bad} of {len(w)} labels differ"


def _shingles(text: str, k: int = 3) -> set[tuple[str, ...]]:
    """Token k-shingles as ``minhash_near_dups`` defines them: whitespace
    tokens, every window of k (one short window when fewer than k)."""
    t = text.split()
    if not t:
        return set()
    return {tuple(t[i : i + k]) for i in range(max(len(t) - k, 0) + 1)}


def _verify_pairs(pairs: pd.DataFrame, corpus: pd.DataFrame, seed: int) -> str | None:
    if not (pairs["id_a"] < pairs["id_b"]).all():
        return "pair not ordered id_a < id_b"
    if pairs.duplicated(["id_a", "id_b"]).any():
        return "duplicate pair"
    if (pairs["jaccard"] < 0.5).any():
        return "pair below threshold"
    text = dict(zip(corpus["repo"] + "/" + corpus["path"], corpus["content"]))
    rng = np.random.default_rng(seed)
    srt = pairs.sort_values(["id_a", "id_b"]).reset_index(drop=True)
    take = rng.choice(len(srt), size=min(DEDUP_SAMPLE, len(srt)), replace=False)
    for i in take:
        a, b, j = srt.at[i, "id_a"], srt.at[i, "id_b"], srt.at[i, "jaccard"]
        sa, sb = _shingles(text[a]), _shingles(text[b])
        exact = len(sa & sb) / len(sa | sb)
        if abs(exact - j) > 1e-9:
            return f"pair ({a}, {b}) jaccard {j} != {exact}"
    return None


def verify(workload: str, seed: int, cache: str, meta: dict, out: str) -> dict[str, str | None]:
    """Per-op check: ``None`` when the output equals the oracle answer,
    otherwise why not. Ops absent from the dict produced no output."""
    res: dict[str, str | None] = {}
    counts_path = os.path.join(out, "counts.json")
    counts = {}
    if os.path.exists(counts_path):
        with open(counts_path) as f:
            counts = json.load(f)
    if workload == "zipf_shuffle_suite":
        want = _read(cache, "oracle.parquet")
        res["pagerank"] = _ranks_match(_read(out, "rank.parquet"), want)
        res["connected_components"] = _labels_match(_read(out, "cc.parquet"), want, "cc")
        res["label_propagation"] = _labels_match(_read(out, "lp.parquet"), want, "lp")
        got = counts.get("triangles")
        res["triangle_count"] = (
            None if got == meta["triangles"] else f"{got} triangles, want {meta['triangles']}"
        )
    else:
        truth = _read(cache, "truth_edges.parquet")
        res["load_corpus"] = None
        edges = _read(out, "edges.parquet")
        if edges is None:
            res["extract_edges"] = "no output"
        else:
            key = ["src", "dst"]
            a = edges[key].sort_values(key).reset_index(drop=True)
            b = truth[key].sort_values(key).reset_index(drop=True)
            res["extract_edges"] = None if a.equals(b) else (
                f"{len(a)} extracted edges differ from the {len(b)} generated"
            )
        sha = _read(out, "sha256.parquet")
        want = _read(cache, "oracle_sha256.parquet")
        if sha is None:
            res["sha256_manifest"] = "no output"
        else:
            g = dict(zip(sha["repo"] + "/" + sha["path"], sha["sha256"]))
            w = dict(zip(want["repo"] + "/" + want["path"], want["sha256"]))
            res["sha256_manifest"] = None if g == w and len(sha) == len(want) else "digests differ"
        mp = _read(out, "mapping.parquet")
        if mp is None:
            res["encode"] = "no output"
        else:
            ids = set(want["repo"] + "/" + want["path"]) | set(truth["src"]) | set(truth["dst"])
            srt = mp.sort_values("id")
            n_enc = counts.get("encoded_edges")
            if set(mp["id"]) != ids or len(mp) != len(ids):
                res["encode"] = "encoded ids differ from corpus files + edge endpoints"
            elif not np.array_equal(srt["vid"].to_numpy(), np.arange(len(ids))):
                res["encode"] = "vids are not an order-preserving 0..V-1 numbering"
            elif n_enc != len(truth):
                res["encode"] = f"{n_enc} encoded edges, want {len(truth)}"
            else:
                res["encode"] = None
        pairs = _read(out, "pairs.parquet")
        if pairs is None:
            res["minhash_near_dups"] = "no output"
        else:
            corpus = pd.read_parquet(os.path.join(cache, "corpus"))
            res["minhash_near_dups"] = _verify_pairs(pairs, corpus, seed)
    return res
