"""The two workloads. Each is a closed loop with one client thread.

``ingest``: the write path and the cache-miss read path. Set-up builds an
index over 85 % of the corpus. Each cycle then appends three batches of
1.5 %, opening a fresh handle and sending one-query probes after each, and
compacts and probes again.

``query``: the read path over a built index. Rounds of interactive requests
of 1-8 queries (driver route), each round closed by one 1000-query
DataFrame batch (distributed route). Traced runs then add one curate pass:
frequent item sets over 100 queries and a MinHash dedup on a slice of the
corpus. Curation is too slow and, in a fresh JVM, too noisy to gate end to
end within the run budget, so it is measured per layer only.

A call counts as failed when it raises or when a checked sample of its
results disagrees with ``igd_spark.oracle``.
"""

from __future__ import annotations

import itertools
import os
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

import gen
from spans import Tracer

CONVS = 2_000            # ~14 k turns, ~0.9 M postings
BASE_SHARE = 0.85         # of the corpus, built during set-up
APPEND_SHARE = 0.015      # per append_index batch
APPENDS_PER_COMPACT = 3
# --seconds fixes the work of a run: seconds / CYCLE_S ingest cycles or
# seconds / ROUND_S query rounds
CYCLE_S = 12
ROUND_S = 8
ROUND_REQUESTS = 80
PROBES_PER_STAGE = 12
WARM_HANDLES = 6          # set-up: fresh handles x PROBES_PER_STAGE probes
CHECKED_PER_STAGE = 3
BATCH_QUERIES = 1_000
CHECKED_PER_BATCH = 20
REQUEST_CHECK_P = 0.05
WARM_REQUESTS = 80
WARM_TERMS_PER_QUERY = 1_000
CURATE_TURNS = 1_500
FIS_QUERIES = 100
FIS_MIN_SUPPORT = 3       # frequent_item_sets_agg_indexed's default
K = 10
QUERY_SCHEMA = "query_id long, query_text string"


@dataclass
class Ctx:
    spark: object
    tracer: Tracer
    seed: int
    seconds: float
    work: str       # scratch directory of this run
    cache: str      # generated-input cache, shared by runs
    t_start: float  # perf_counter before the Spark session was created
    attempted: int = 0
    failed: int = 0
    named: dict = field(default_factory=dict)    # figures printed above the JSON
    layer_values: dict = field(default_factory=dict)
    marks: dict = field(default_factory=dict)    # phase name -> perf_counter

    def mark(self, phase: str) -> float:
        """Record the end of a phase; returns seconds since session start."""
        self.marks[phase] = time.perf_counter()
        return self.marks[phase] - self.t_start

    def fail(self, what: str) -> None:
        self.failed += 1
        print(f"FAILED: {what}", file=sys.stderr)


def _timed(fn):
    t = time.perf_counter()
    out = fn()
    return out, time.perf_counter() - t


def _dir_bytes(path: str, skip: tuple[str, ...] = ()) -> int:
    """Bytes of data files under path, without checksum and marker files."""
    total = 0
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if d not in skip]
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files
                     if not f.endswith(".crc") and f != "_SUCCESS")
    return total


def _ranked(pdf: pd.DataFrame) -> dict[int, list[tuple[int, float]]]:
    out: dict[int, list[tuple[int, float]]] = {}
    for qid, rank, doc, score in pdf[["query_id", "rank", "doc_id", "score"]].itertuples(
            index=False):
        out.setdefault(int(qid), []).append((int(rank), int(doc), float(score)))
    return {q: [(d, s) for _, d, s in sorted(v)] for q, v in out.items()}


def _agrees(ix, text: str, got: list[tuple[int, float]]) -> bool:
    """Doc ids rank for rank and scores to 6 dp against the oracle."""
    from igd_spark.oracle import bm25_topk

    want = bm25_topk(ix, text, k=K)
    return len(want) == len(got) and all(
        wd == gd and abs(ws - gs) <= 1e-6 for (wd, ws), (gd, gs) in zip(want, got))


def _oracle(pdf: pd.DataFrame):
    from igd_spark.oracle import build_oracle_index

    return build_oracle_index(list(zip(pdf["doc_id"].tolist(), pdf["text"].tolist())))


def _extend_oracle(ix, pdf: pd.DataFrame) -> None:
    """Add documents to an oracle index in place (stats recomputed)."""
    add = _oracle(pdf)
    for term, plist in add.postings.items():
        ix.postings.setdefault(term, {}).update(plist)
    ix.dl.update(add.dl)
    ix.n_docs = len(ix.dl)
    ix.avgdl = sum(ix.dl.values()) / ix.n_docs


def _load(ctx: Ctx):
    path = gen.cached_corpus(ctx.cache, CONVS, ctx.seed)
    return ctx.spark.read.parquet(path), pd.read_parquet(path, columns=["doc_id", "text"])


def _text_bytes(pdf: pd.DataFrame) -> int:
    return int(pdf["text"].str.encode("utf-8").str.len().sum())


# ---------------------------------------------------------------------------
# ingest

def _probe(ctx: Ctx, path: str, present: int, probes, out: dict) -> None:
    """Open a fresh handle and send one-query probes through search(); keep
    a sample of results to check against the documents present."""
    from igd_spark import open_index, search
    from igd_spark.local import LocalSearcher

    tr, spark = ctx.tracer, ctx.spark
    ctx.attempted += 1
    with tr.span("index.open_index"):
        idx = open_index(spark, path)
    for n, (qid, text) in enumerate(probes):
        ctx.attempted += 1
        with tr.span("search.probe", request_id=f"p{present}-{qid}"):
            try:
                pdf, s = _timed(lambda: search(spark, idx, [(qid, text)], k=K).toPandas())
            except Exception:
                traceback.print_exc()
                ctx.fail(f"probe {text!r} with {present} documents present")
                continue
        out["probe_ms"].append(1000 * s)
        if n < CHECKED_PER_STAGE:
            out["checks"].append((present, text, _ranked(pdf).get(qid, [])))
    if tr.enabled:
        # after the timed probes, so its reads do not warm theirs
        with tr.span("local.search_n.cold"):
            LocalSearcher(open_index(spark, path)).search_n([probes[0]], k=K)


def _layer_probes(ctx: Ctx, docs, path: str) -> None:
    """Traced run only: time the build's layers on their own (results go to
    Spark's noop sink) and decode every block of the final index."""
    import pyarrow.parquet as pq

    from igd_spark import codec
    from igd_spark.build import build_all
    from igd_spark.tokenizer import postings_spimi

    tr = ctx.tracer
    postings = int(pq.read_table(os.path.join(path, "dictionary"), columns=["df"])
                   .column("df").to_numpy().sum())
    with tr.span("tokenizer.postings_spimi", counters=True) as sp:
        postings_spimi(docs).write.format("noop").mode("overwrite").save()
        sp["postings"] = postings
    with tr.span("build.build_all", counters=True):
        parts = build_all(docs)
    with tr.span("build.segments", counters=True):
        parts["segments"].write.format("noop").mode("overwrite").save()
    for cached in parts["_cached"]:
        cached.unpersist()
    seg_dir = os.path.join(path, "segments")
    cols = pq.read_table(seg_dir, columns=["n", "doc_ids", "tfs", "dls"])
    doc_ids, tfs, dls = (cols.column(c).to_pylist() for c in ("doc_ids", "tfs", "dls"))
    with tr.span("codec.varint_decode") as sp:
        decoded = sum(codec.decode_doc_ids(b).size for b in doc_ids)
        for col in (tfs, dls):
            for b in col:
                codec.varint_decode(b)
    if decoded != int(cols.column("n").to_numpy().sum()):
        ctx.fail("decoded posting count differs from the blocks' n")
    ctx.layer_values["codec.varint_decode.postings_per_s"] = decoded / sp.wall_s
    ctx.layer_values["build.bytes_per_posting"] = _dir_bytes(seg_dir) / postings


def ingest(ctx: Ctx) -> dict:
    from igd_spark import append_index, build_index, compact_index, open_index, search

    spark, tr = ctx.spark, ctx.tracer
    docs, pdf = _load(ctx)
    n = len(pdf)
    base, step = int(n * BASE_SHARE), int(n * APPEND_SHARE)
    path = os.path.join(ctx.work, "ingest")

    # set-up: the base build is also the JVM's warm-up build; one append
    # and probes on fresh handles warm the append and read paths
    t = time.perf_counter()
    build_index(spark, docs.filter(f"doc_id < {base}"), path)
    base_build_s = time.perf_counter() - t
    hi = base + step
    append_index(spark, path, docs.filter(f"doc_id >= {base} and doc_id < {hi}"))
    warm_qs = gen.QueryStream(ctx.seed, 6)
    for _ in range(WARM_HANDLES):
        idx = open_index(spark, path)
        for req in warm_qs.batch(PROBES_PER_STAGE):
            search(spark, idx, [req], k=K).toPandas()
    setup_s = ctx.mark("setup")

    # fixed work per run, so a faster program finishes sooner instead of
    # doing more: cycles of 3 x (append, probe) then (compact, probe)
    qs = gen.QueryStream(ctx.seed, 1)
    out = {"append_s": [], "compact_s": [], "probe_ms": [], "checks": []}
    cycles = min(max(1, round(ctx.seconds / CYCLE_S)), (n - hi) // (APPENDS_PER_COMPACT * step))
    for _ in range(cycles):
        for _ in range(APPENDS_PER_COMPACT):
            lo, hi = hi, hi + step
            batch = docs.filter(f"doc_id >= {lo} and doc_id < {hi}")
            ctx.attempted += 1
            with tr.span("index.append_index", counters=True):
                _, s = _timed(lambda: append_index(spark, path, batch))
            out["append_s"].append(s)
            _probe(ctx, path, hi, qs.batch(PROBES_PER_STAGE), out)
        if tr.enabled:
            ctx.layer_values.update({
                f"index.bytes.{t}": float(_dir_bytes(os.path.join(path, t)))
                for t in ("segments", "dictionary", "doc_stats", "batches")})
        ctx.attempted += 1
        with tr.span("index.compact_index", counters=True) as sp:
            _, s = _timed(lambda: compact_index(spark, path))
            sp["bytes_written"] = _dir_bytes(path, skip=("_lineage",))
        out["compact_s"].append(s)
        _probe(ctx, path, hi, qs.batch(PROBES_PER_STAGE), out)
    ctx.mark("measured")
    present = docs.filter(f"doc_id < {hi}")
    if tr.enabled:
        # the build's layers, timed on a warm JVM (the set-up build is cold)
        ctx.layer_values["local.search_n.cold_ms"] = 1000 * statistics.median(
            s.wall_s for s in tr.named("local.search_n.cold"))
        rebuilt = os.path.join(ctx.work, "rebuild")
        with tr.span("index.build_index", counters=True):
            build_index(spark, present, rebuilt)
        _layer_probes(ctx, present, rebuilt)

    # oracle over the documents present at each probe (prefixes by doc_id)
    ix = _oracle(pdf[pdf.doc_id < base + step])
    done = base + step
    for upto in sorted({c[0] for c in out["checks"]}):
        _extend_oracle(ix, pdf[(pdf.doc_id >= done) & (pdf.doc_id < upto)])
        done = upto
        for present_n, text, got in out["checks"]:
            if present_n == upto and not _agrees(ix, text, got):
                ctx.fail(f"ingest probe {text!r} with {upto} documents present")

    appended = hi - base - step
    write_s = sum(out["append_s"]) + sum(out["compact_s"])
    ratio = _dir_bytes(path, skip=("_lineage",)) / _text_bytes(pdf[pdf.doc_id < hi])
    ctx.named.update({
        "setup_s": (setup_s, "s"),
        "base_build_s": (base_build_s, "s"),   # in set-up, on a cold JVM
        "append_turns_per_s": (appended / sum(out["append_s"]), "1/s"),
        "compact_s": (statistics.median(out["compact_s"]), "s"),
        "fresh_query_p50_ms": (statistics.median(out["probe_ms"]), "ms"),
        "index_bytes_per_text_byte": (ratio, "B/B"),
        "appends": (len(out["append_s"]), "count"),
    })
    return {
        "setup_s": setup_s,
        "request_p50_ms": statistics.median(out["probe_ms"]),
        "bulk_per_s": appended / write_s,
        "index_bytes_per_text_byte": ratio,
    }


# ---------------------------------------------------------------------------
# query

def _request(ctx: Ctx, idx, req, seen: set, stats: dict):
    """One interactive request: search(...).toPandas() on a warm handle."""
    from igd_spark import search
    from igd_spark.local import local_searcher
    from igd_spark.oracle import tokenize

    tr = ctx.tracer
    terms = {t for _, text in req for t in tokenize(text)}
    stats["terms"] += len(terms)
    stats["repeat"] += len(terms & seen)
    seen |= terms
    ctx.attempted += 1
    t = time.perf_counter()
    with tr.span("search.request", request_id=f"r{req[0][0]}", counters=True):
        try:
            with tr.span("search.search", counters=True) as sp:
                df = search(ctx.spark, idx, req, k=K)
            stats["driver_route"] += sp.get("jobs", 1) == 0
            pdf = df.toPandas()
        except Exception:
            traceback.print_exc()
            ctx.fail(f"request {req}")
            return None, None
    ms = 1000 * (time.perf_counter() - t)
    if tr.enabled:
        ls = local_searcher(idx)
        with tr.span("local.batch_cost", request_id=f"r{req[0][0]}"):
            ls.batch_cost(req)
        with tr.span("local.search_n.warm", request_id=f"r{req[0][0]}"):
            ls.search_n(req, k=K)
    return pdf, ms


def _fis_reference(texts: dict[int, str], queries: list[tuple[int, str]]) -> list[tuple]:
    """frequent_item_sets_agg_indexed's default answer, recomputed in Python:
    per query, the documents holding any query term; the 2- and 3-term sets
    of their distinct terms in at least FIS_MIN_SUPPORT of them, ranked by
    (support desc, size, terms) and cut at K. Rows are (query_id, rank,
    size, items, support). A triple's three pairs all rank before it, so
    triples are counted only over the items of the top K pairs."""
    from igd_spark.oracle import tokenize

    terms = {d: set(tokenize(t)) for d, t in texts.items()}
    rows = []
    for qid, text in queries:
        q = set(tokenize(text))
        items = [sorted(ts) for ts in terms.values() if ts & q]
        l1: dict[str, int] = {}
        for ts in items:
            for t in ts:
                l1[t] = l1.get(t, 0) + 1
        items = [[t for t in ts if l1[t] >= FIS_MIN_SUPPORT] for ts in items]
        pairs: dict[tuple, int] = {}
        for ts in items:
            for pr in itertools.combinations(ts, 2):
                pairs[pr] = pairs.get(pr, 0) + 1
        ranked = sorted(((-c, 2, pr) for pr, c in pairs.items() if c >= FIS_MIN_SUPPORT))[:K]
        top = {pr for _, _, pr in ranked}
        cand = sorted({t for pr in top for t in pr})
        for tri in itertools.combinations(cand, 3):
            if all(pr in top for pr in itertools.combinations(tri, 2)):
                c = sum(1 for ts in items if set(tri) <= set(ts))
                if c >= FIS_MIN_SUPPORT:
                    ranked.append((-c, 3, tri))
        for rank, (c, size, iset) in enumerate(sorted(ranked)[:K], 1):
            rows.append((qid, rank, size, iset, -c))
    return rows


def _cluster_reference(doc_ids: list[int], pairs: pd.DataFrame) -> list[tuple]:
    """dedup_clusters' answer for these pairs, by union-find: (doc_id,
    component_id = min id of its component, cluster_size, is_survivor)."""
    parent = {d: d for d in doc_ids}

    def root(d):
        while parent[d] != d:
            parent[d] = parent[parent[d]]
            d = parent[d]
        return d

    for a, b in zip(pairs["doc_a"].tolist(), pairs["doc_b"].tolist()):
        ra, rb = root(a), root(b)
        parent[max(ra, rb)] = min(ra, rb)   # the root is the component's min id
    comp = {d: root(d) for d in doc_ids}
    size: dict[int, int] = {}
    for c in comp.values():
        size[c] = size.get(c, 0) + 1
    return sorted((d, c, size[c], d == c) for d, c in comp.items())


def _rows(pdf: pd.DataFrame, cols: list[str]) -> list[tuple]:
    return sorted(tuple(tuple(v) if isinstance(v, (list, np.ndarray)) else
                        v.item() if hasattr(v, "item") else v for v in r)
                  for r in pdf[cols].itertuples(index=False))


def _curate(ctx: Ctx, docs, pdf: pd.DataFrame) -> tuple[float, float]:
    """Traced runs only: one frequent_item_sets_agg_indexed call over 100
    mid-frequency queries and one MinHash dedup, on a slice of the corpus,
    each after clearing the Dataset cache as a fresh caller would."""
    from igd_spark import build_index
    from igd_spark.aggs import frequent_item_sets_agg_indexed
    from igd_spark.dedup import dedup_clusters, minhash_dedup_pairs

    spark, tr = ctx.spark, ctx.tracer
    rng = np.random.default_rng([ctx.seed, 7])
    words = gen.vocab()
    fis_rows = [(i, " ".join(words[rng.integers(200, 2_000, size=rng.integers(1, 3))]))
                for i in range(FIS_QUERIES)]
    fis_q = spark.createDataFrame(
        pd.DataFrame(fis_rows, columns=["query_id", "query_text"]), QUERY_SCHEMA)
    sl = docs.filter(f"doc_id < {CURATE_TURNS}")
    idx = build_index(spark, sl, os.path.join(ctx.work, "curate"))
    ctx.attempted += 2
    spark.catalog.clearCache()
    with tr.span("aggs.frequent_item_sets_agg_indexed", counters=True, persisted=True):
        fis, fis_s = _timed(lambda: frequent_item_sets_agg_indexed(
            spark, idx, sl, fis_q).toPandas())
    sl_pdf = pdf[pdf.doc_id < CURATE_TURNS]
    texts = dict(zip(sl_pdf["doc_id"].tolist(), sl_pdf["text"].tolist()))
    if _rows(fis, ["query_id", "rank", "size", "items", "support"]) != sorted(
            _fis_reference(texts, fis_rows)):
        ctx.fail("frequent_item_sets_agg_indexed differs from the Python reference")
    ctx.named["fis_itemsets"] = (len(fis), "count")
    spark.catalog.clearCache()
    rdds = tr.persisted_rdds()
    t = time.perf_counter()
    with tr.span("dedup.minhash_dedup_pairs", counters=True) as sp:
        pairs = minhash_dedup_pairs(sl)
        sp["pairs"] = pairs.count()
    with tr.span("dedup.dedup_clusters", counters=True):
        clusters = dedup_clusters(sl, pairs).toPandas()
    dedup_s = time.perf_counter() - t
    # the pair's leftovers: minhash persists its signatures, clusters its
    # component checkpoints
    ctx.layer_values["dedup.dedup_clusters.leaked_persisted"] = float(
        tr.persisted_rdds() - rdds)
    pairs_pdf = pairs.toPandas()
    if not (len(pairs_pdf) == sp["pairs"]
            and (pairs_pdf.doc_a < pairs_pdf.doc_b).all()
            and pairs_pdf.doc_b.lt(CURATE_TURNS).all()
            and pairs_pdf.est_jaccard.between(0.5, 1.0).all()):
        ctx.fail("minhash_dedup_pairs returned a malformed pair")
    if _rows(clusters, ["doc_id", "component_id", "cluster_size", "is_survivor"]) != \
            _cluster_reference(sorted(texts), pairs_pdf):
        ctx.fail("dedup_clusters differs from union-find over the same pairs")
    return fis_s, dedup_s


def query(ctx: Ctx) -> dict:
    import pyarrow.parquet as pq

    from igd_spark import build_index, search
    from igd_spark.local import local_searcher

    spark, tr = ctx.spark, ctx.tracer
    docs, pdf = _load(ctx)
    qs = gen.QueryStream(ctx.seed, 2)          # interactive requests
    bs = gen.QueryStream(ctx.seed, 3)          # batches
    warm_qs = gen.QueryStream(ctx.seed, 4)     # set-up warm-up
    req_sample = np.random.default_rng([ctx.seed, 5])
    batch_sample = np.random.default_rng([ctx.seed, 6])

    def batch_frame(stream):
        rows = stream.batch(BATCH_QUERIES)
        return rows, spark.createDataFrame(
            pd.DataFrame(rows, columns=["query_id", "query_text"]), QUERY_SCHEMA)

    # set-up: the index build is also the JVM's warm-up build
    idx = build_index(spark, docs, os.path.join(ctx.work, "index"))
    # the whole index fits in the driver route's list cache: fill it with
    # every indexed term, so measured requests score warm lists instead of
    # warming the cache at the pace of each seed's query stream
    terms = pq.read_table(os.path.join(idx.path, "dictionary"), columns=["term"]) \
        .column("term").to_pylist()
    for i in range(0, len(terms), WARM_TERMS_PER_QUERY):
        local_searcher(idx).search_n([(0, " ".join(terms[i:i + WARM_TERMS_PER_QUERY]))], k=K)
    for i in range(WARM_REQUESTS):
        search(spark, idx, warm_qs.request(10 * i), k=K).toPandas()
    search(spark, idx, batch_frame(warm_qs)[1], k=K).toPandas()
    setup_s = ctx.mark("setup")

    # rounds of interactive requests, each closed by one batch, so both
    # metrics sample the whole measured window
    checks = []   # per call: [(query text, engine top-k)]
    seen: set = set()
    stats = {"terms": 0, "repeat": 0, "driver_route": 0}
    req_ms, batch_s = [], []
    next_id = 0
    for _ in range(max(2, round(ctx.seconds / ROUND_S))):   # fixed work per run
        for _ in range(ROUND_REQUESTS):
            req = qs.request(next_id)
            next_id += len(req)
            got, ms = _request(ctx, idx, req, seen, stats)
            if got is None:
                continue
            req_ms.append(ms)
            if req_sample.random() < REQUEST_CHECK_P:
                ranked = _ranked(got)
                checks.append([(text, ranked.get(qid, [])) for qid, text in req])
        batch, qdf = batch_frame(bs)
        ctx.attempted += 1
        with tr.span("search.batch", request_id=f"b{len(batch_s)}", counters=True):
            try:
                got, s = _timed(lambda: search(spark, idx, qdf, k=K).toPandas())
            except Exception:
                traceback.print_exc()
                ctx.fail("1000-query batch")
                continue
        batch_s.append(s)
        ranked = _ranked(got)
        picks = batch_sample.choice(BATCH_QUERIES, size=CHECKED_PER_BATCH, replace=False)
        checks.append([(batch[i][1], ranked.get(batch[i][0], [])) for i in picks])
    ctx.mark("measured")

    ix = _oracle(pdf)
    for call in checks:
        if not all(_agrees(ix, text, got) for text, got in call):
            ctx.fail(f"search results differ from the oracle: {[t for t, _ in call]}")

    qps_batch = len(batch_s) * BATCH_QUERIES / sum(batch_s)
    ratio = _dir_bytes(idx.path, skip=("_lineage",)) / _text_bytes(pdf)
    req_sorted = sorted(req_ms)
    # highest percentile with at least ten samples beyond it
    tail_q = max((q for q in (0.5, 0.9, 0.95, 0.99) if len(req_ms) * (1 - q) >= 10),
                 default=0.5)
    ctx.named.update({
        "setup_s": (setup_s, "s"),
        "query_p50_ms": (statistics.median(req_ms), "ms"),
        f"query_p{round(100 * tail_q)}_ms": (req_sorted[int(tail_q * len(req_sorted))], "ms"),
        "requests": (len(req_ms), "count"),
        "batch_qps": (qps_batch, "1/s"),
        "batches": (len(batch_s), "count"),
        "index_bytes_per_text_byte": (ratio, "B/B"),
    })
    if tr.enabled:
        ctx.layer_values.update({
            "local.repeat_term_share": stats["repeat"] / max(1, stats["terms"]),
            "search.driver_route_share": stats["driver_route"] / max(1, len(req_ms)),
            "local.search_n.warm_ms": 1000 * statistics.median(
                s.wall_s for s in tr.named("local.search_n.warm")),
            "search.batch.shuffle_bytes_per_query": statistics.median(
                s["shuffle_write_bytes"] for s in tr.named("search.batch")) / BATCH_QUERIES,
        })
        fis_s, dedup_s = _curate(ctx, docs, pdf)
        ctx.named.update({"fis_s": (fis_s, "s"), "dedup_s": (dedup_s, "s")})
    return {
        "setup_s": setup_s,
        "request_p50_ms": statistics.median(req_ms),
        "bulk_per_s": qps_batch,
        "index_bytes_per_text_byte": ratio,
    }


WORKLOADS = {"ingest": ingest, "query": query}
