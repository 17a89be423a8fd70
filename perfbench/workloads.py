"""The two workloads. Each runs set-up (timed as ``setup_s``), then its
closed loop (``--seconds`` per phase, half of it for ingest), then its
correctness checks.

- extract: html → text only. Repeated passes of ``extract_text_udf``
  over the corpus's html column, spread over every core, each compared
  row by row with the generator's expected text. Every index layer is
  idle.
- index: every index layer on one index; extract is idle. Set-up
  cold-builds the index, warms append and delete on it, opens a reader
  and ``cache()``s it. The query phase serves the query stream from
  that warm reader three ways (``search_serve`` one at a time,
  ``search`` on the distributed block-max path, ``search_many_local``
  batches). The ingest phase releases the cache, then runs steps in
  the cold regime: append a doc batch, tombstone random live ids, open
  a new uncached ``IndexReader``, serve queries on it.
"""

from __future__ import annotations

import os
import statistics
import time

import numpy as np

import inputs

#: top-k of every query
K = 10
#: untimed extract passes in set-up
WARM_PASSES = 2
#: share of the query phase per path: serve, distributed, batch. The
#: batch path carries the gated latency, so it gets the most samples.
QUERY_SPLIT = (0.25, 0.15, 0.6)
#: queries per search_many_local batch: the batch size of the sizing
#: probe (README, "Sizes and their sources")
BATCH_QUERIES = 100
#: set-up warm-up: seconds of search_serve calls, and the tail of the
#: query stream they (and the other warm-up calls) draw from
WARM_SERVE_S = 2.0
WARM_QUERIES = 1000
#: docs in the set-up build; the rest of the corpus arrives in batches
INGEST_BASE = 2400
#: docs per appended batch: 1/16 of the base, the append-to-base ratio
#: of the sizing probe (2.5k docs onto 40k)
INGEST_BATCH = INGEST_BASE // 16
#: ids tombstoned per step and queries served on each new reader; no
#: measurement in the repository backs these two (unverified)
INGEST_DELETES = 10
INGEST_QUERIES = 5
#: the ingest phase runs for this share of --seconds (and at least one
#: step); one step takes about 9 s on 4 cores, so this keeps the run
#: inside its time budget
INGEST_SHARE = 0.5
#: build phases reported per layer (keys of build_index's ``phases``)
BUILD_PHASES = (
    "tokenize_doc_lengths", "stats", "term_names", "segments_g0",
    "manifest_g0", "dictionary",
)


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def pctl(xs, q: float) -> float:
    """q-quantile by linear interpolation (0 for no samples)."""
    if not xs:
        return 0.0
    s = sorted(xs)
    i = (len(s) - 1) * q
    lo = int(i)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (i - lo)


def _rows(df) -> list[tuple]:
    return [
        (r["rank"], r["doc_id"], r["score"])
        for r in sorted(df.collect(), key=lambda r: r["rank"])
    ]


def _batch_rows(res, n: int) -> list[list[tuple]]:
    """``search_many_local`` rows → one (rank, doc_id, score) list per
    query id 0..n-1."""
    per_q: list[list[tuple]] = [[] for _ in range(n)]
    for r in sorted(res, key=lambda r: (r["query_id"], r["rank"])):
        per_q[r["query_id"]].append((r["rank"], r["doc_id"], r["score"]))
    return per_q


def _search_batch(reader, qs) -> list[list[tuple]]:
    return _batch_rows(
        reader.search_many_local([(i, q, K) for i, q in enumerate(qs)])
        .collect(),
        len(qs),
    )


def _each(fn):
    """A per-query search path as a path over a list of queries."""
    return lambda qs: [_rows(fn(q)) for q in qs]


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
    )


# -- extract -------------------------------------------------------------

def _extract_mismatches(docs) -> int:
    """Materialize ``extract_text_udf`` over every row's html; return the
    number of rows whose extracted text differs from ``text``."""
    from pyspark.sql import functions as F
    from tlhop_library_spark.extract import extract_text_udf

    return (
        docs.select(extract_text_udf(F.col("html")).alias("x"), "text")
        .where(~F.col("x").eqNullSafe(F.col("text")))
        .count()
    )


def extract(b, corpus: inputs.Corpus) -> None:
    t0 = time.perf_counter()
    b.start_session()
    # The generator writes 4096-row groups, so the corpus file is one
    # row group and its scan one task. Spread the rows over the cores
    # once, in set-up, as build_index and add_documents do for
    # unsplittable input, and keep them in memory: a pass is then the
    # UDF and its Arrow transfer on every core, not one scan task.
    par = b.spark.sparkContext.defaultParallelism
    docs = (
        b.spark.read.parquet(corpus.path).select("html", "text")
        .repartition(2 * par).persist()
    )
    n = corpus.n_docs

    def one_pass() -> float | None:
        res, dt, _ = b.call("extract", _extract_mismatches, docs)
        if res is None:
            return None
        b.check(res == 0, f"extract mismatches={res}")
        b.layer["extract.mismatches"] = (
            b.layer.get("extract.mismatches", 0) + res
        )
        return dt

    with b.tracer.span("setup"):
        b.call("cache", docs.count)
        # the first passes in a JVM run slower than later ones
        for _ in range(WARM_PASSES):
            one_pass()
    b.setup_s = time.perf_counter() - t0

    passes = []
    with b.tracer.span("timed"):
        t_end = time.perf_counter() + b.seconds
        while b.more(t_end, passes):
            dt = one_pass()
            if dt is not None:
                passes.append(dt)

    b.p50_ms = median(passes) * 1e3
    b.items_per_s = n * len(passes) / sum(passes) if passes else 0.0
    html_mb = corpus.prefix_html_bytes[n] / 1e6
    b.name("extract_p50_ms", b.p50_ms, "ms",
           f"median of {len(passes)} passes over {n} docs")
    b.name("extract_docs_per_s", b.items_per_s, "docs/s")
    b.name("extract_html_mb_per_s",
           html_mb * len(passes) / sum(passes) if passes else 0.0, "MB/s")
    if b.traced:
        b.layer["extract.busy_s"] = b.tracer.total("extract")
        b.layer["extract.docs"] = n * (len(passes) + WARM_PASSES)
        b.layer["extract.html_bytes"] = (
            corpus.prefix_html_bytes[n] * (len(passes) + WARM_PASSES)
        )


# -- index ---------------------------------------------------------------

class _Index:
    """One index under test and the bookkeeping the checks need: which
    docs it holds, which of them are tombstoned."""

    def __init__(self, b, corpus, docs, index_dir: str):
        self.b, self.corpus, self.docs, self.dir = b, corpus, docs, index_dir
        self.rng = np.random.default_rng([b.seed, 0xDE])
        self.next = INGEST_BASE
        self.live = list(range(INGEST_BASE))
        self.deleted: set[int] = set()

    def delete(self, n: int, op: int = 0) -> float | None:
        """Tombstone ``n`` random live ids; returns the call's seconds."""
        from tlhop_library_spark.index import delete_documents

        pick = self.rng.choice(len(self.live), size=n, replace=False)
        ids = sorted(self.live[i] for i in pick)
        st, dt, _ = self.b.call("delete_documents", delete_documents,
                                self.b.spark, self.dir, ids, op=op)
        if st is None:
            return None
        self.deleted.update(ids)
        for i in sorted(pick, reverse=True):
            self.live.pop(i)
        return dt

    def append(self, op: int = 0) -> tuple[int, float | None] | None:
        """Append the next doc batch; returns (docs, the call's seconds),
        or None when the corpus has no batch left."""
        from pyspark.sql import functions as F
        from tlhop_library_spark.index import add_documents

        lo = self.next
        if lo >= self.corpus.n_docs:
            return None
        hi = min(lo + INGEST_BATCH, self.corpus.n_docs)
        self.next = hi
        batch = self.docs.where(
            (F.col("doc_id") >= lo) & (F.col("doc_id") < hi)
        )
        st, dt, _ = self.b.call(
            "add_documents", add_documents, self.b.spark, self.dir, batch,
            op=op,
        )
        if st is None:
            return hi - lo, None
        self.live.extend(range(lo, hi))
        return hi - lo, dt

    def step(self, stream, q0: int) -> dict | None:
        """One ingest step; None when the corpus has no batch left."""
        from tlhop_library_spark.index import IndexReader

        b = self.b
        op = b.tracer.new_op()
        t = time.perf_counter()
        with b.tracer.span("ingest.step", op=op):
            app = self.append(op)
            if app is None:
                return None
            out = {"docs": app[0], "append": app[1], "queries": []}
            out["delete"] = self.delete(INGEST_DELETES, op=op)
            reader, out["open"], _ = b.call(
                "open", IndexReader, b.spark, self.dir, op=op
            )
            for i in range(INGEST_QUERIES if reader is not None else 0):
                q = stream[(q0 + i) % len(stream)]
                rows, dt, _ = b.call(
                    "search_serve", lambda: _rows(reader.search_serve(q, K)),
                    op=op,
                )
                if rows is None:
                    continue
                out["queries"].append(dt)
                dead = [r for r in rows if r[1] in self.deleted]
                if dead:
                    b.bad(f"search_serve {q!r} returned deleted {dead}")
        out["step"] = time.perf_counter() - t
        return out

    def check(self, paths) -> None:
        """Each of ``paths`` (name → callable(queries) returning one row
        list per query) on the fixed sample ``inputs.check_queries``
        against ``score_exhaustive`` over every doc ever added, exactly
        (rank, doc_id, score). Stale-stats rule: survivors keep the
        scores of the index without deletes; deleted ids drop out of a
        deep exhaustive result and ranks compact."""
        from pyspark.sql import functions as F
        from tlhop_library_spark.index import score_exhaustive

        b = self.b
        qs = inputs.check_queries(self.corpus, b.seed)
        # the corpus file is one row group: spread it over the cores
        # so each oracle call is not a single task
        par = b.spark.sparkContext.defaultParallelism
        upto = (
            self.docs.where(F.col("doc_id") < self.next)
            .select("doc_id", "text").repartition(2 * par).persist()
        )
        exp = []
        for q in qs:
            deep, _, _ = b.call(
                "score_exhaustive",
                lambda: _rows(score_exhaustive(upto, q, K + len(self.deleted))),
            )
            exp.append(None if deep is None else [
                (i + 1, d, s)
                for i, (_, d, s) in enumerate(
                    r for r in deep if r[1] not in self.deleted
                )
            ][:K])
        upto.unpersist()
        for name, fn in paths.items():
            got, _, _ = b.call(name, fn, qs)
            if got is None:
                continue
            for q, g, e in zip(qs, got, exp):
                b.check(e is not None and g == e,
                        f"{name} {q!r}: {g} != score_exhaustive {e}")

    def verify(self) -> None:
        from tlhop_library_spark.index import verify_index

        res, _, _ = self.b.call(
            "verify_index",
            lambda: verify_index(self.b.spark, self.dir).collect(),
        )
        if res is not None:
            bad = [r["check"] for r in res if r["bad"]]
            self.b.check(not bad, f"verify_index: {bad}")


def index(b, corpus: inputs.Corpus) -> None:
    from pyspark.sql import functions as F
    from tlhop_library_spark.index import (
        IndexReader, build_index, load_tombstones,
    )

    stream = inputs.query_stream(corpus, b.seed, 20000)
    t0 = time.perf_counter()
    b.start_session()
    spark = b.spark
    docs = spark.read.parquet(corpus.path)
    ix = _Index(b, corpus, docs, os.path.join(b.run_dir, "idx"))
    with b.tracer.span("setup"):
        st, build_s, _ = b.call(
            "build_index", build_index, spark,
            docs.where(F.col("doc_id") < INGEST_BASE), ix.dir,
        )
        bytes_ratio = _dir_bytes(ix.dir) / corpus.prefix_text_bytes[INGEST_BASE]
        # warm the timed calls: the first build, append, delete, open
        # and serve in a JVM run several times slower than later ones
        ix.append()
        ix.delete(1)
        reader, open_s, _ = b.call("open", IndexReader, spark, ix.dir)
        reader.cache()
        # the first distributed query materializes the cache
        warm = stream[-WARM_QUERIES:]
        _, cache_s, _ = b.call(
            "search", lambda: reader.search(warm[0], K).collect()
        )
        # serve until the JIT has compiled the serving path: a few
        # calls leave the timed latencies drifting down run by run
        t_end = time.perf_counter() + WARM_SERVE_S
        i = 0
        while time.perf_counter() < t_end:
            q = warm[i % len(warm)]
            i += 1
            b.call("search_serve", lambda: reader.search_serve(q, K).collect())
        b.call("search", lambda: reader.search(warm[1], K).collect())
        for j in range(3):
            b.call("search_many_local", _search_batch, reader,
                   warm[j * BATCH_QUERIES:(j + 1) * BATCH_QUERIES])
    b.setup_s = time.perf_counter() - t0

    seen: dict[str, list] = {}

    def consistent(q, rows, path):
        """Every path must return what search_serve returned for q."""
        if q in seen and seen[q] != rows:
            b.bad(f"{path} {q!r}: {rows} != search_serve {seen[q]}")

    pos = 0
    serve_s, serve_cls, serve_jobs, serve_rows, lookup_s = [], {}, [], [], []
    dist_s, dist_jobs, blocks = [], [], [0, 0]
    batch_s = []
    with b.tracer.span("timed.query"):
        t_end = time.perf_counter() + b.seconds * QUERY_SPLIT[0]
        while b.more(t_end, serve_s):
            q = stream[pos % len(stream)]
            pos += 1
            op = b.tracer.new_op()
            if b.traced:
                _, dt, _ = b.call("lookup_terms", reader.lookup_terms,
                                  inputs.tokens(q), op=op)
                lookup_s.append(dt)
            rows, dt, jobs = b.call(
                "search_serve", lambda: _rows(reader.search_serve(q, K)),
                op=op,
            )
            if rows is None:
                continue
            serve_s.append(dt)
            serve_jobs.append(jobs)
            serve_rows.append(len(rows))
            serve_cls.setdefault(inputs.df_class(corpus, q), []).append(dt)
            consistent(q, rows, "search_serve")
            seen[q] = rows

        t_end = time.perf_counter() + b.seconds * QUERY_SPLIT[1]
        while b.more(t_end, dist_s):
            q = stream[pos % len(stream)]
            pos += 1
            rows, dt, jobs = b.call(
                "search", lambda: _rows(
                    reader.search(q, K, with_pruning_stats=b.traced)
                ), op=b.tracer.new_op(),
            )
            if rows is None:
                continue
            dist_s.append(dt)
            dist_jobs.append(jobs)
            consistent(q, rows, "search")
            if b.traced:
                ps = reader.last_pruning_stats()
                blocks[0] += ps["blocks_decoded"]
                blocks[1] += ps["blocks_total"]

        t_end = time.perf_counter() + b.seconds * QUERY_SPLIT[2]
        while b.more(t_end, batch_s):
            qs = [stream[(pos + i) % len(stream)] for i in range(BATCH_QUERIES)]
            pos += BATCH_QUERIES
            res, dt, _ = b.call("search_many_local", _search_batch, reader,
                                qs, op=b.tracer.new_op())
            if res is None:
                continue
            batch_s.append(dt)
            for q, rows in zip(qs, res):
                consistent(q, rows, "search_many_local")

    # The ingest phase runs without a cached reader. Appending while the
    # query phase's reader is still cached in the session writes a
    # wrong index (an engine defect, README "Known engine defect").
    spark.catalog.clearCache()
    steps = []
    with b.tracer.span("timed.ingest"):
        t_end = time.perf_counter() + b.seconds * INGEST_SHARE
        while b.more(t_end, steps):
            s = ix.step(stream, pos)
            if s is None:
                break
            pos += INGEST_QUERIES
            steps.append(s)

    # One exact check of every query path, on a new reader of the final
    # index (base + appended docs, with tombstones): one set of
    # score_exhaustive calls covers the query paths and the ingest
    # phase. The timed query phase is checked against search_serve.
    with b.tracer.span("checks"):
        fresh, _, _ = b.call("open", IndexReader, spark, ix.dir)
        if fresh is not None:
            ix.check({
                "search_serve": _each(lambda q: fresh.search_serve(q, K)),
                "search_bmw": _each(lambda q: fresh.search(q, K, mode="bmw")),
                "search_exhaustive": _each(
                    lambda q: fresh.search(q, K, mode="exhaustive")
                ),
                "search_many_local": lambda qs: _search_batch(fresh, qs),
            })
        ix.verify()

    # the gated pair: one search_many_local batch (query path) and
    # add_documents (write path). Single search_serve calls last tens
    # of milliseconds and their medians moved by up to a third between
    # runs of the same code, too much for a regression bound.
    b.p50_ms = median(batch_s) * 1e3
    b.items_per_s = median([s["docs"] / s["append"] for s in steps
                            if s["append"]])
    ns = len(steps)
    cold_q = [q for s in steps for q in s["queries"]]
    b.name("batch_p50_ms", b.p50_ms, "ms",
           f"n={len(batch_s)} batches of {BATCH_QUERIES}")
    b.name("serve_p50_ms", median(serve_s) * 1e3, "ms", f"n={len(serve_s)}")
    b.name("serve_p90_ms", pctl(serve_s, 0.9) * 1e3, "ms",
           f"n={len(serve_s)}, {len(serve_s) - int(0.9 * len(serve_s))} "
           "samples above")
    b.name("dist_p50_ms", median(dist_s) * 1e3, "ms", f"n={len(dist_s)}")
    b.name("batch_qps", median([BATCH_QUERIES / s for s in batch_s]),
           "queries/s", f"median of {len(batch_s)} batches")
    b.name("append_docs_per_s", b.items_per_s, "docs/s",
           f"median of {ns} batches of {INGEST_BATCH}")
    b.name("delete_p50_ms",
           median([s["delete"] for s in steps if s["delete"]]) * 1e3, "ms",
           f"n={ns}, {INGEST_DELETES} ids each")
    b.name("refresh_ms",
           median([s["open"] for s in steps if s["open"]]) * 1e3, "ms",
           f"n={ns}")
    b.name("ingest_query_p50_ms", median(cold_q) * 1e3, "ms",
           f"n={len(cold_q)}")
    if st is not None:
        b.name("build_docs_per_s", st["n_docs"] / build_s, "docs/s",
               "set-up build, the first in the process")
    b.name("index_bytes_per_text_byte", bytes_ratio, "ratio",
           "set-up index")

    if b.traced:
        lay = b.layer
        lay["query.lookup_ms"] = median(lookup_s) * 1e3
        for cls in ("head", "torso", "tail"):
            lay[f"query.serve_ms.{cls}"] = median(serve_cls.get(cls, [])) * 1e3
        lay["query.jobs_per_op"] = statistics.fmean(serve_jobs)
        lay["query.dist.jobs_per_op"] = statistics.fmean(dist_jobs)
        lay["query.rows"] = statistics.fmean(serve_rows)
        lay["query.dist.blocks_decoded"] = blocks[0]
        lay["query.dist.blocks_total"] = blocks[1]
        lay["query.dist.decode_fraction"] = (
            blocks[0] / blocks[1] if blocks[1] else 0.0
        )
        lay["query.batch_ms"] = median(batch_s) * 1e3
        lay["query.cache_s"] = cache_s
        lay["open.ms"] = open_s * 1e3
        lay["open.refresh_ms"] = median(
            [s["open"] for s in steps if s["open"]]
        ) * 1e3
        lay["append.busy_s"] = b.tracer.total("add_documents")
        lay["append.docs"] = ix.next - INGEST_BASE
        lay["delete.busy_ms"] = b.tracer.total("delete_documents") * 1e3
        tomb = load_tombstones(ix.dir)
        lay["delete.tombstones"] = 0 if tomb is None else tomb.size
        lay["build.index_bytes_per_text_byte"] = bytes_ratio
        lay["build.busy_s"] = b.tracer.total("build_index")
        for ph in BUILD_PHASES:
            lay[f"build.phase.{ph}_s"] = st["phases"].get(ph, 0.0) if st else 0.0
        res, dt, _ = b.call("analyzer", _analyzer_tokens,
                            docs.where(F.col("doc_id") < ix.next))
        if res is not None:
            lay["analyzer.busy_s"] = dt
            lay["analyzer.tokens"] = res
        if fresh is not None:
            m = fresh.build_metrics().agg(
                F.sum("postings_written").alias("p"),
                F.sum("bytes_written").alias("b"),
                F.sum("n_chunks").alias("c"),
                F.max("skew_ratio").alias("s"),
            ).collect()[0]
            lay["build.postings"] = m["p"]
            lay["build.segment_bytes"] = m["b"]
            lay["build.bytes_per_posting"] = m["b"] / m["p"]
            lay["build.chunks"] = m["c"]
            lay["build.skew_ratio_max"] = m["s"]
            d = fresh.describe()
            lay["open.dict_terms"] = d["n_terms"]
            lay["append.delta_groups"] = len(d["delta_groups"])


def _analyzer_tokens(docs) -> int:
    """Standalone analyzer pass: total v1 tokens (``doc_len_col``)."""
    from pyspark.sql import functions as F
    from tlhop_library_spark.analyzer import doc_len_col

    return docs.select(F.sum(doc_len_col(F.col("text")))).collect()[0][0]
