"""The benchmark's operation groups.

Each group builds its seeded inputs (``setup``), computes exact reference
answers once (``references``), and returns its operation kinds (``ops``).
Every operation checks its own result; a failed check raises and counts
as a failed operation. ``trace`` returns a decomposed version of each
operation whose child spans sit around the public calls it is made of,
and ``layer_metrics`` measures the group's single-layer numbers.

Groups: ``ingest`` (write side), ``stream`` (streaming state), ``probe``
(read side) and ``corpus`` (text operators). The workloads in
``BENCHMARK.json`` are made of these groups (see ``run.py``).
"""

from __future__ import annotations

import math
import os
import shutil
import statistics
import time
from typing import Callable

import numpy as np
from pyspark.sql import functions as F

import inputs
from harness import Op, check

#: Input sizes. Chosen so that one pass over every operation kind fits a
#: few seconds on a 4-core host; see NOTES.md for the sizing.
SIZES = {
    "code_rows": 50_000,
    "code_partitions": 4,
    "orders": 25_000,
    "events": 50_000,
    "stream_files": 2,
    "stream_rows_per_file": 5_000,
    "probe_rows": 50_000,
    "base_docs": 60,
    "replicas": 10,
    "lookups_per_op": 5,
}

#: decontamination's Bloom-prefilter switch scaled with the corpus: the
#: library's 250k grams stand for a 50k-document corpus
DECONTAM_SWITCH_PER_DOC = 250_000 / 50_000


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _median_time(fn: Callable[[], object], reps: int = 3) -> float:
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def _kernel_rates(digests: np.ndarray, cfg) -> dict[str, float]:
    """L0: the numpy kernel on one core over the group's own digests at
    its filter's (m, k)."""
    from fastbloom_spark.kernel import (contains_hashes, decode_words,
                                        encode_words, insert_hashes,
                                        source_hash)

    d = np.ascontiguousarray(digests.astype(np.int64).view(np.uint64))
    words = np.zeros(cfg.num_words, dtype=np.uint64)
    k, seed, layout = cfg.num_hashes, cfg.seed, cfg.layout
    t_ins = _median_time(lambda: insert_hashes(
        words, source_hash(d, seed), k, layout))
    t_con = _median_time(lambda: contains_hashes(
        words, source_hash(d, seed), k, layout))
    # a partial as one build task of eight would emit it
    part = np.zeros(cfg.num_words, dtype=np.uint64)
    insert_hashes(part, source_hash(d[: max(1, d.size // 8)], seed), k,
                  layout)
    buf = encode_words(part)
    mb = part.nbytes / 1e6
    t_enc = _median_time(lambda: encode_words(part))
    t_dec = _median_time(lambda: decode_words(buf))
    return {"kernel.insert_rows_per_s": d.size / t_ins,
            "kernel.contains_rows_per_s": d.size / t_con,
            "kernel.encode_mb_per_s": mb / t_enc,
            "kernel.decode_mb_per_s": mb / t_dec}


def _sketch_rates(digests: np.ndarray, values: np.ndarray,
                  seed: int) -> dict[str, float]:
    """L0: ``impl.update`` on one core."""
    from fastbloom_spark.sketch import (CountMinSketch, HllSketch,
                                        TDigestSketch)

    d = digests.astype(np.int64)
    out = {}
    for name, impl, arr in (
            ("hll", HllSketch(precision=12, seed=seed), d),
            ("cms", CountMinSketch(depth=5, log2_width=14, seed=seed), d),
            ("tdigest", TDigestSketch(delta=200), values)):
        t = _median_time(lambda: impl.update(impl.empty(), arr))
        out[f"sketch.{name}_update_rows_per_s"] = arr.size / t
    return out


def _digest_rates(df, col: str, rows: int) -> dict[str, float]:
    """The ``digest64`` select alone, into a noop sink."""
    from fastbloom_spark.functions.digest import digest64

    out = {}
    for strategy in ("sha256", "xxh64"):
        t = _median_time(lambda: _noop(
            df.select(digest64(col, strategy).alias("d"))))
        out[f"digest.{strategy}_rows_per_s"] = rows / t
    return out


def _arrow_identity_s(df) -> float:
    """L1: a ``mapInPandas`` identity pass over the same digests."""
    def identity(batches):
        yield from batches

    return _median_time(lambda: _noop(df.mapInPandas(identity, df.schema)))


def build_plan(prepared, cfg):
    """The plan ``bloom_build(df, col, cfg)`` picks for ``prepared``, its
    digest frame: given a ``cfg``, ``bloom_build`` passes no
    ``expected_items`` to the planner."""
    from fastbloom_spark.plans import plan_bloom_build

    return plan_bloom_build(
        cfg, input_partitions=prepared.rdd.getNumPartitions(),
        default_parallelism=prepared.sparkSession.sparkContext
        .defaultParallelism, expected_items=None)


def _planner_metrics(plan) -> dict[str, float]:
    return {"planner.build_partitions": plan.build_partitions,
            "planner.partial_state_bytes": plan.partial_state_bytes,
            "planner.merge_strategy":
                0 if plan.merge_strategy == "driver_collect" else 1,
            "planner.scan_strategy":
                0 if plan.scan_strategy == "coalesce" else 1}


def _realised_fpr(bloom, seed: int, n: int = 200_000) -> float:
    """Share of random non-member digests the filter reports present."""
    rng = np.random.default_rng(seed + 7)
    d = rng.integers(-2**63, 2**63 - 1, size=n, dtype=np.int64)
    return float(bloom.contains_digests(d).mean())


class Group:
    name = ""

    def __init__(self, spark, seed: int, scratch: str) -> None:
        self.spark, self.seed, self.scratch = spark, seed, scratch
        self._persisted: list = []
        #: operation kinds the workload runs (None: all of them); every
        #: kind it runs is checked against its reference
        self.selected: set[str] | None = None

    def wants(self, op_name: str) -> bool:
        return self.selected is None or op_name in self.selected

    def persist(self, df):
        df = df.persist()
        df.count()
        self._persisted.append(df)
        return df

    def setup(self) -> None:
        raise NotImplementedError

    def references(self) -> None:
        """Exact answers the checks compare against; run once."""

    def ops(self) -> list[Op]:
        raise NotImplementedError

    def trace(self, rec) -> dict[str, Callable[[], None]]:
        """Op name -> a decomposed run with child spans in ``rec``."""
        return {}

    def layer_metrics(self) -> dict[str, float]:
        return {}

    def teardown(self) -> None:
        for df in self._persisted:
            df.unpersist()
        self._persisted = []


# ------------------------------------------------------------------ ingest

class Ingest(Group):
    """Write side: global build, grouped builds, HLL/CMS/t-digest."""

    name = "ingest"

    def setup(self) -> None:
        from fastbloom_spark import BloomConfig

        s, seed, p = self.spark, self.seed, SIZES["code_partitions"]
        self.code = self.persist(inputs.code_table(
            s, SIZES["code_rows"], seed, p))
        self.n = SIZES["code_rows"]
        self.li = self.persist(inputs.lineitem(s, SIZES["orders"], seed, p))
        self.ev = self.persist(inputs.events(s, SIZES["events"], seed, p))
        self.cfg = BloomConfig.from_false_pos(1e-3, expected_items=self.n,
                                              seed=seed)
        self.lang_cfg = BloomConfig.from_false_pos(
            1e-3, expected_items=self.n // 7, seed=seed)

    def references(self) -> None:
        from fastbloom_spark import BloomFilter
        from fastbloom_spark.functions.digest import digest64

        # the local reference filters, from the same digests
        self.dig = self.code.select(
            "lang", "path", digest64("content").alias("d")).toPandas()
        ref = BloomFilter(self.cfg)
        ref.insert_digests(self.dig["d"].to_numpy())
        self.ref = ref
        self.ref_lang = {}
        for lang, part in self.dig.groupby("lang"):
            f = BloomFilter(self.lang_cfg)
            f.insert_digests(part["d"].to_numpy())
            self.ref_lang[lang] = f.words
        self.distinct_paths = self.dig["path"].nunique()
        self.ev_counts = {r.event_type: (r.d, r.c) for r in self.ev.groupBy(
            "event_type").agg(F.first(digest64("event_type")).alias("d"),
                              F.count("*").alias("c")).collect()}
        self.prices = self.li.select("l_extendedprice").toPandas()[
            "l_extendedprice"].to_numpy()
        self.n_li = self.prices.size
        self.median_band = tuple(np.quantile(self.prices, [0.48, 0.52]))

    # -- operations
    def _check_filter(self, bloom) -> None:
        check(bloom == self.ref, "global filter differs from local build")
        check(bloom.rows_seen == self.n, "rows_seen != input rows")

    def _check_langs(self, rows) -> None:
        from fastbloom_spark.kernel import decode_words

        check(len(rows) == len(self.ref_lang), "lang: key count")
        check(sum(r.rows_seen for r in rows) == self.n, "lang: rows_seen")
        for r in rows:
            check(np.array_equal(decode_words(bytes(r.sketch)),
                                 self.ref_lang[r.lang]), f"{r.lang}: bits")

    def build(self) -> None:
        from fastbloom_spark.operators import bloom_build

        self._check_filter(bloom_build(self.code, "content", self.cfg))

    def agg_lang(self) -> None:
        from fastbloom_spark.operators import bloom_agg

        self._check_langs(bloom_agg(self.code, ["lang"], "content",
                                    self.lang_cfg,
                                    distinct_keys_hint=8).collect())

    def _hll(self):
        from fastbloom_spark.sketch import HllSketch
        return HllSketch(precision=12, seed=self.seed)

    def _cms(self):
        from fastbloom_spark.sketch import CountMinSketch
        return CountMinSketch(depth=5, log2_width=14, seed=self.seed)

    def _td(self):
        from fastbloom_spark.sketch import TDigestSketch
        return TDigestSketch(delta=200)

    def _check_hll(self, impl, state, seen) -> None:
        exact = self.distinct_paths
        est = impl.estimate(state)
        check(seen == self.n, "hll rows_seen")
        check(abs(est - exact) <= 3 * impl.relative_error() * exact,
              f"hll estimate {est:.0f} vs exact {exact}")

    def _check_cms(self, impl, state, seen) -> None:
        check(seen == SIZES["events"], "cms rows_seen")
        for etype, (d, c) in self.ev_counts.items():
            est = int(impl.query(state, np.array([d], dtype=np.int64))[0])
            check(est >= c, f"cms {etype}: {est} < exact {c}")

    def _check_td(self, impl, state, seen) -> None:
        check(seen == self.n_li, "tdigest rows_seen")
        med = impl.quantile(state, 0.5)
        lo, hi = self.median_band
        check(lo <= med <= hi, f"tdigest median {med} outside [{lo}, {hi}]")

    def hll(self) -> None:
        from fastbloom_spark.operators.sketch_agg import sketch_build
        impl = self._hll()
        self._check_hll(impl, *sketch_build(self.code, "path", impl))

    def cms(self) -> None:
        from fastbloom_spark.operators.sketch_agg import sketch_build
        impl = self._cms()
        self._check_cms(impl, *sketch_build(self.ev, "event_type", impl))

    def tdigest(self) -> None:
        from fastbloom_spark.operators.sketch_agg import sketch_build
        impl = self._td()
        self._check_td(impl, *sketch_build(self.li, "l_extendedprice", impl))

    def ops(self) -> list[Op]:
        n, n_sk = self.n, SIZES["events"]
        return [
            Op("build", "build_rows_per_s", n, self.build),
            Op("agg_lang", "agg_rows_per_s", n, self.agg_lang),
            Op("hll", "sketch_rows_per_s", n, self.hll),
            Op("cms", "sketch_rows_per_s", n_sk, self.cms),
            Op("tdigest", "sketch_rows_per_s", SIZES["orders"] * 4,
               self.tdigest),
        ]

    # -- traced decompositions
    def trace(self, rec) -> dict[str, Callable[[], None]]:
        from fastbloom_spark import BloomFilter
        from fastbloom_spark.functions.digest import digest64
        from fastbloom_spark.kernel import decode_words
        from fastbloom_spark.operators import (bloom_build, bloom_merge,
                                               bloom_partials)
        from fastbloom_spark.operators.sketch_agg import (sketch_agg,
                                                          sketch_partials)
        from fastbloom_spark.kernel import decode_state

        self.partial_stats: list[tuple[int, int]] = []

        def build() -> None:
            cfg = self.cfg
            with rec.span("digest64 select", "functions.digest"):
                prepared = self.code.filter(F.col("content").isNotNull()) \
                    .select(digest64("content", cfg.digest)
                            .alias("__digest64"))
            with rec.span("plan_bloom_build", "plans.planner"):
                nparts = prepared.rdd.getNumPartitions()
                plan = build_plan(prepared, cfg)
            if plan.merge_strategy != "driver_collect":
                with rec.span("bloom_build", "operators.bloom"):
                    bloom = bloom_build(self.code, "content", cfg)
                self._check_filter(bloom)
                return
            if plan.build_partitions < nparts:
                prepared = (prepared.repartition(plan.build_partitions)
                            if plan.scan_strategy == "shuffle"
                            else prepared.coalesce(plan.build_partitions))
            with rec.span("bloom_partials+collect", "operators.bloom"):
                pdf = bloom_partials(prepared, "__digest64", cfg) \
                    .select("rows_seen", "sketch").toPandas()
            self.partial_stats.append(
                (len(pdf), int(sum(len(b) for b in pdf["sketch"]))))
            with rec.span("driver decode+OR", "kernel"):
                acc = np.zeros(cfg.num_words, dtype=np.uint64)
                for b in pdf["sketch"]:
                    np.bitwise_or(acc, decode_words(bytes(b), copy=False),
                                  out=acc)
                bloom = BloomFilter(cfg, acc,
                                    rows_seen=int(pdf["rows_seen"].sum()))
            self._check_filter(bloom)

        def agg_lang() -> None:
            with rec.span("bloom_partials (persisted)", "operators.bloom"):
                parts = bloom_partials(
                    self.code.select("lang", digest64("content").alias("d")),
                    "d", self.lang_cfg, ["lang"]).persist()
                parts.count()
            try:
                with rec.span("bloom_merge", "merge"):
                    rows = bloom_merge(parts, ["lang"]).collect()
            finally:
                parts.unpersist()
            self._check_langs(rows)

        def folded(df, col, impl, checker) -> Callable[[], None]:
            def run() -> None:
                with rec.span("sketch_partials+collect",
                              "operators.sketch_agg"):
                    pdf = sketch_partials(df, col, impl, []).select(
                        "rows_seen", "sketch").toPandas()
                self.sketch_partial_bytes = float(
                    sum(len(b) for b in pdf["sketch"]))
                with rec.span("driver fold", "sketch"):
                    states = [impl.deserialize(decode_state(bytes(b)))
                              for b in pdf["sketch"]]
                    acc = states[0]
                    for st in states[1:]:
                        acc = impl.merge(acc, st)
                checker(impl, acc, int(pdf["rows_seen"].sum()))
            return run

        def tdigest() -> None:
            impl = self._td()
            with rec.span("sketch_agg merge tree", "merge"):
                rows = sketch_agg(self.li, [], "l_extendedprice",
                                  impl).collect()
            self._check_td(impl, impl.deserialize(bytes(rows[0].sketch)),
                           int(rows[0].rows_seen))

        return {
            "build": build,
            "agg_lang": agg_lang,
            "hll": folded(self.code, "path", self._hll(), self._check_hll),
            "cms": folded(self.ev, "event_type", self._cms(),
                          self._check_cms),
            "tdigest": tdigest,
        }

    def layer_metrics(self) -> dict[str, float]:
        from fastbloom_spark.functions.digest import digest64

        out: dict[str, float] = {}
        d = self.dig["d"].to_numpy()
        out.update(_kernel_rates(d, self.cfg))
        out.update(_sketch_rates(d, self.prices, self.seed))
        out.update(_digest_rates(self.code, "content", self.n))
        dig = self.code.select(digest64("content").alias("d"))
        out["bloom.arrow_identity_s"] = _arrow_identity_s(dig)
        out.update(_planner_metrics(build_plan(dig, self.cfg)))
        out["bloom.realised_fpr"] = _realised_fpr(self.ref, self.seed)
        out["bloom.configured_fpr"] = self.cfg.expected_false_pos(self.n)
        if self.partial_stats:
            out["bloom.partial_rows"] = statistics.median(
                r for r, _ in self.partial_stats)
            out["bloom.partial_bytes"] = statistics.median(
                b for _, b in self.partial_stats)
        out["sketch_agg.partial_bytes"] = getattr(
            self, "sketch_partial_bytes", 0.0)
        return out


# ------------------------------------------------------------------ stream

class Stream(Group):
    """availableNow replays of the code table written as equal files."""

    name = "stream"

    def setup(self) -> None:
        from fastbloom_spark import BloomConfig

        files, per = SIZES["stream_files"], SIZES["stream_rows_per_file"]
        self.n = files * per
        self.src = os.path.join(self.scratch, "stream_src")
        shutil.rmtree(self.src, ignore_errors=True)
        frame = inputs.code_table(self.spark, self.n, self.seed, files)
        frame.write.parquet(self.src)
        self.schema = frame.schema
        self.batch = self.persist(self.spark.read.parquet(self.src))
        self.bench = self.batch.filter(
            F.pmod(F.xxhash64("path", F.lit(self.seed)), F.lit(37)) == 0) \
            .select("path", "content")
        self.dedup_cfg = BloomConfig.from_false_pos(
            1e-3, expected_items=self.n, seed=self.seed)
        self.runs = 0
        self.progress: dict[str, list] = {}

    def teardown(self) -> None:
        super().teardown()
        shutil.rmtree(self.src, ignore_errors=True)

    def _hll(self):
        from fastbloom_spark.sketch import HllSketch
        return HllSketch(precision=12, seed=self.seed)

    def _stream(self):
        return (self.spark.readStream.schema(self.schema)
                .option("maxFilesPerTrigger", 1).parquet(self.src))

    def _query(self, kind: str):
        from fastbloom_spark.streaming import (
            streaming_bloom_dedup, streaming_contamination_matches,
            streaming_sketch_agg)

        s = self._stream()
        if kind == "hll":
            return streaming_sketch_agg(s, ["lang"], "path", self._hll())
        if kind == "dedup":
            return streaming_bloom_dedup(s, "content", self.dedup_cfg,
                                         id_cols=["path"])
        return streaming_contamination_matches(
            s, self.bench, id_col="path", text_col="content", ngram_n=5)

    def references(self) -> None:
        from fastbloom_spark.operators.sketch_agg import sketch_agg
        from fastbloom_spark.streaming import streaming_contamination_matches

        if self.wants("stream_hll"):
            self.hll_ref = {r.lang: bytes(r.sketch) for r in sketch_agg(
                self.batch, ["lang"], "path", self._hll()).collect()}
        if self.wants("stream_contam"):
            self.contam_ref = set(map(tuple, streaming_contamination_matches(
                self.batch, self.bench, id_col="path", text_col="content",
                ngram_n=5).collect()))

    def _check_output(self, kind: str, out) -> None:
        """The final per-lang HLL states equal the batch states bitwise;
        contamination matches equal the batch function's."""
        if kind == "hll":
            last = out.sort_values("rows_seen").groupby("lang").tail(1)
            check(len(last) == len(self.hll_ref), "stream hll: key count")
            for r in last.itertuples():
                check(bytes(r.sketch) == self.hll_ref[r.lang],
                      f"stream hll {r.lang}: state differs from batch")
        elif kind == "contam":
            got = set(zip(out["path"], out["gram"]))
            check(got == self.contam_ref,
                  "stream contamination differs from batch")

    def drain(self, kind: str, op: Op | None) -> None:
        """Start one query from a fresh checkpoint and wait for the
        availableNow drain. HLL states and contamination matches go to a
        memory sink and are checked; the dedup pass-through (one row per
        first-seen input) goes to the noop sink."""
        self.runs += 1
        ckpt = os.path.join(self.scratch, f"ckpt_{kind}_{self.runs}")
        sink = "noop" if kind == "dedup" else "memory"
        name = f"perfbench_{kind}_{self.runs}"
        w = self._query(kind).writeStream.format(sink).outputMode("append") \
            .option("checkpointLocation", ckpt).trigger(availableNow=True)
        if sink == "memory":
            w = w.queryName(name)
        q = w.start()
        try:
            q.awaitTermination()
            check(q.exception() is None, f"{kind}: query failed")
            prog = [p for p in q.recentProgress if p["numInputRows"] > 0]
            check(sum(p["numInputRows"] for p in prog) == self.n,
                  f"{kind}: rows read != input rows")
            if sink == "memory":
                self._check_output(kind, self.spark.table(name).toPandas())
        finally:
            if sink == "memory":
                self.spark.catalog.dropTempView(name)
            shutil.rmtree(ckpt, ignore_errors=True)
        self.progress.setdefault(kind, []).extend(prog)
        if op is not None:
            op.samples.setdefault("batch_ms", []).extend(
                p["durationMs"]["triggerExecution"] for p in prog)

    def ops(self) -> list[Op]:
        out = []
        for kind in ("hll", "dedup", "contam"):
            op = Op(f"stream_{kind}", "stream_rows_per_s", self.n, None)
            op.run = (lambda k, o: lambda: self.drain(k, o))(kind, op)
            out.append(op)
        return out

    def trace(self, rec):
        out = {}
        for kind in ("hll", "dedup", "contam"):
            def run(k=kind) -> None:
                with rec.span(f"streaming {k} drain", "streaming"):
                    self.drain(k, None)
            out[f"stream_{kind}"] = run
        return out

    def layer_metrics(self) -> dict[str, float]:
        prog = [p for ps in self.progress.values() for p in ps]
        if not prog:
            return {}
        med = lambda xs: float(statistics.median(xs)) if xs else 0.0
        state = [p["stateOperators"][0] for p in prog if p["stateOperators"]]
        return {
            "streaming.batches": len(prog) / max(self.runs, 1),
            "streaming.rows_per_batch": med([p["numInputRows"]
                                             for p in prog]),
            "streaming.add_batch_ms": med([p["durationMs"].get("addBatch", 0)
                                           for p in prog]),
            "streaming.commit_ms": med([p["durationMs"].get(
                "commitOffsets", 0) for p in prog]),
            "streaming.state_bytes": med([s.get("memoryUsedBytes", 0)
                                          for s in state]),
            "streaming.state_rows": med([s.get("numRowsTotal", 0)
                                         for s in state]),
        }


# ------------------------------------------------------------------- probe

class Probe(Group):
    """Read side: column probe, both SQL surfaces, semi-join and index
    point lookups through one ``IndexHandle``."""

    name = "probe"

    def __init__(self, spark, seed, scratch, corpus: "Corpus") -> None:
        super().__init__(spark, seed, scratch)
        self.corpus = corpus  # the index is built over its documents

    def setup(self) -> None:
        from fastbloom_spark import BloomConfig
        from fastbloom_spark.operators import bloom_build, register_bloom_sql
        from fastbloom_spark.sources import IndexHandle, write_indexed_table
        from fastbloom_spark.sql import publish_bloom_sql

        s, seed, p = self.spark, self.seed, SIZES["code_partitions"]
        self.n = SIZES["probe_rows"]
        self.members = self.persist(inputs.digests(s, self.n, seed, "m", p))
        self.non = self.persist(inputs.digests(s, self.n, seed, "n", p))
        self.cfg = BloomConfig.from_false_pos(1e-3, expected_items=self.n,
                                              seed=seed)
        self.bloom = bloom_build(self.members, "d", self.cfg,
                                 digest_precomputed=True)
        self.reg_fn = register_bloom_sql(s, "pbm", self.bloom)
        publish_bloom_sql(s, "pbm", self.bloom)
        self.members.createOrReplaceTempView("perfbench_members")
        orders = inputs.orders(s, SIZES["orders"], seed, p)
        self.orders_f = self.persist(orders.filter(
            F.col("o_totalprice") > 150000))
        self.li = self.persist(inputs.lineitem(s, SIZES["orders"], seed, p))
        self.n_li = self.li.count()
        self.n_orders_f = self.orders_f.count()
        # skip index over the corpus documents, 16 buckets
        docs = self.corpus.docs
        self.idx_path = os.path.join(self.scratch, "index_docs")
        shutil.rmtree(self.idx_path, ignore_errors=True)
        icfg = BloomConfig.from_false_pos(
            0.01, expected_items=max(64, self.corpus.n_docs // 16),
            seed=seed)
        write_indexed_table(docs, self.idx_path, index_col="text", cfg=icfg,
                            bucket_source="doc_id", num_buckets=16)
        t0 = time.perf_counter()
        self.handle = IndexHandle(s, self.idx_path)
        self.handle_load_s = time.perf_counter() - t0
        rng = np.random.default_rng(seed + 11)
        texts = self.corpus.pdf["text"]
        counts = texts.value_counts()
        pick = rng.choice(len(texts), size=4 * SIZES["lookups_per_op"],
                          replace=False)
        self.lookups = [(texts.iloc[i], int(counts[texts.iloc[i]]))
                        for i in pick]
        self.next_lookup = 0

    def teardown(self) -> None:
        from fastbloom_spark.sql import unpublish_bloom_sql

        unpublish_bloom_sql(self.spark, "pbm")
        self.spark.catalog.dropTempView("perfbench_members")
        super().teardown()
        shutil.rmtree(self.idx_path, ignore_errors=True)

    def references(self) -> None:
        self.semi_ref = self.li.join(
            self.orders_f.select(F.col("o_orderkey").alias("l_orderkey")),
            on="l_orderkey", how="left_semi").count()
        p = self.cfg.expected_false_pos(self.n)
        self.fp_max = self.n * p + 3 * math.sqrt(self.n * p * (1 - p))

    def probe(self) -> None:
        from fastbloom_spark.operators import bloom_contains_col

        probe = bloom_contains_col(self.spark, self.bloom, "d")
        check(self.members.filter(probe).count() == self.n,
              "false negatives")
        fp = self.non.filter(probe).count()
        self.last_fp = fp
        check(fp <= self.fp_max, f"{fp} false positives > {self.fp_max:.0f}")

    def sql_register(self) -> None:
        got = self.spark.sql(f"SELECT count(*) FROM perfbench_members "
                             f"WHERE {self.reg_fn}(d)").first()[0]
        check(got == self.n, "register_bloom_sql count")

    def sql_publish(self) -> None:
        got = self.spark.sql("SELECT count(*) FROM perfbench_members "
                             "WHERE bloom_probe_bc('pbm', d)").first()[0]
        check(got == self.n, "publish_bloom_sql count")

    def _semi(self):
        from fastbloom_spark.operators import bloom_semi_join

        return bloom_semi_join(self.li, self.orders_f, "l_orderkey",
                               "o_orderkey", fp=0.01, seed=self.seed,
                               expected_items=self.n_orders_f)

    def semijoin(self) -> None:
        check(self._semi().count() == self.semi_ref, "semi-join count")

    def _next_batch(self):
        k = SIZES["lookups_per_op"]
        i = self.next_lookup
        self.next_lookup = (i + k) % len(self.lookups)
        return self.lookups[i:i + k]

    def lookup(self, op: Op) -> None:
        for text, want in self._next_batch():
            t0 = time.perf_counter()
            got = self.handle.pruned_read([text])[0].count()
            op.samples.setdefault("lookup_ms", []).append(
                (time.perf_counter() - t0) * 1e3)
            check(got == want, f"lookup count {got} != {want}")

    def ops(self) -> list[Op]:
        look = Op("lookup", "lookup_p50_ms", SIZES["lookups_per_op"], None)
        look.run = lambda: self.lookup(look)
        return [
            Op("probe", "probe_rows_per_s", 2 * self.n, self.probe),
            Op("sql_register", "sql_probe_rows_per_s", self.n,
               self.sql_register),
            Op("sql_publish", "sql_probe_rows_per_s", self.n,
               self.sql_publish),
            Op("semijoin", "semijoin_rows_per_s", self.n_li, self.semijoin),
            look,
        ]

    def trace(self, rec):
        self.prune_ms: list[float] = []

        def probe() -> None:
            with rec.span("bloom_contains_col count", "operators.bloom"):
                self.probe()

        def sql(kind, fn):
            def run() -> None:
                with rec.span(f"{kind} probe", "sql"):
                    fn()
            return run

        def semijoin() -> None:
            with rec.span("bloom_semi_join (filter build)",
                          "operators.bloom"):
                df = self._semi()
            with rec.span("prefilter+exact join count", "operators.bloom"):
                got = df.count()
            check(got == self.semi_ref, "semi-join count")

        def lookup() -> None:
            for text, want in self._next_batch():
                with rec.span("IndexHandle.prune", "sources.index"):
                    t0 = time.perf_counter()
                    self.handle.prune([text])
                    self.prune_ms.append((time.perf_counter() - t0) * 1e3)
                with rec.span("pruned_read count", "sources.index"):
                    got = self.handle.pruned_read([text])[0].count()
                check(got == want, "lookup count")

        return {"probe": probe,
                "sql_register": sql("register_bloom_sql", self.sql_register),
                "sql_publish": sql("publish_bloom_sql", self.sql_publish),
                "semijoin": semijoin, "lookup": lookup}

    def layer_metrics(self) -> dict[str, float]:
        from fastbloom_spark.functions.digest import digest64
        from fastbloom_spark.operators import (bloom_build,
                                               bloom_contains_col)

        out: dict[str, float] = {}
        d = self.members.toPandas()["d"].to_numpy()
        out.update(_kernel_rates(d, self.cfg))
        rng = np.random.default_rng(self.seed + 5)
        out.update(_sketch_rates(d, rng.random(d.size) * 1e5, self.seed))
        out.update(_digest_rates(self.li, "l_orderkey", self.n_li))
        out["bloom.arrow_identity_s"] = _arrow_identity_s(self.members)
        out.update(_planner_metrics(build_plan(self.members, self.cfg)))
        out["bloom.realised_fpr"] = getattr(self, "last_fp", 0) / self.n
        out["bloom.configured_fpr"] = self.cfg.expected_false_pos(self.n)
        # the semi-join's prefilter, rebuilt as bloom_semi_join builds it
        right = bloom_build(
            self.orders_f.select(F.col("o_orderkey").alias("__key")),
            "__key", fp=0.01, seed=self.seed, digest="xxh64",
            expected_items=self.n_orders_f)
        passed = self.li.filter(bloom_contains_col(
            self.spark, right, digest64("l_orderkey", "xxh64"))).count()
        out["bloom.semijoin_pass_ratio"] = passed / self.n_li
        out["bloom.semijoin_exact_only_s"] = _median_time(
            lambda: self.li.join(self.orders_f.select(
                F.col("o_orderkey").alias("l_orderkey")),
                on="l_orderkey", how="left_semi").count())
        out["index.handle_load_ms"] = self.handle_load_s * 1e3
        if self.prune_ms:
            out["index.prune_ms"] = statistics.median(self.prune_ms)
        stats = self.handle.prune([self.lookups[0][0]])
        out["index.skipped_fraction"] = stats.skipped_fraction
        return out


# ------------------------------------------------------------------ corpus

class Corpus(Group):
    """Text operators: MinHash dedup, decontamination on both sides of
    its Bloom-prefilter switch, and the composed corpus pipeline."""

    name = "corpus"

    def setup(self) -> None:
        base = inputs.base_documents(SIZES["base_docs"], self.seed)
        self.pdf = inputs.widened_documents(base, SIZES["replicas"],
                                            self.seed)
        self.n_docs = len(self.pdf)
        self.docs = self.persist(inputs.documents_frame(
            self.spark, self.pdf, SIZES["code_partitions"]))
        self.bench_big = self.docs.filter(F.col("doc_id") % 4 == 0)
        self.bench_small = self.docs.filter(F.col("doc_id") % 37 == 0)
        self.switch = int(DECONTAM_SWITCH_PER_DOC * self.n_docs)

    def _pipe_cfg(self):
        from fastbloom_spark.operators.pipeline import CorpusPipelineConfig

        return CorpusPipelineConfig(min_quality=0.35, decontam_ngram=5,
                                    pack_capacity=2048, pack_shards=8)

    def _dedup_pairs(self, rec=None) -> set:
        """MinHash candidates, then exact n-gram Jaccard verification.
        Traced (``rec`` given), the candidates are persisted so each
        step's jobs run inside its own span."""
        from contextlib import nullcontext

        from fastbloom_spark.operators.dedup import (minhash_candidate_pairs,
                                                     ngram_jaccard_pairs)

        step = (lambda name: rec.span(name, "operators.dedup")) if rec \
            else (lambda name: nullcontext())
        cand = None
        try:
            with step("minhash_candidate_pairs"):
                cand = minhash_candidate_pairs(
                    self.docs, "doc_id", "text", num_perm=128, bands=32,
                    seed=self.seed)
                if rec is not None:
                    cand = cand.persist()
                    self.n_cand = cand.count()
            with step("ngram_jaccard_pairs"):
                pairs = ngram_jaccard_pairs(cand, self.docs, "doc_id",
                                            "text", threshold=0.5).collect()
        finally:
            # ngram_jaccard_pairs persists the candidates it is given
            if cand is not None:
                cand.unpersist()
        return {(r.id_a, r.id_b) for r in pairs}

    def _report(self):
        from fastbloom_spark.operators.decontam import contamination_report

        return contamination_report(self.docs, self.bench_big, ngram_n=5,
                                    fp=1e-3, prefilter_min_grams=self.switch)

    def _pipeline(self):
        from fastbloom_spark.operators.pipeline import corpus_pipeline

        out = corpus_pipeline(self.docs, bench=self.bench_small,
                              cfg=self._pipe_cfg())
        # an order-free fingerprint of every output row
        return out.select(F.count("*").alias("n"), F.sum(
            F.xxhash64(*out.columns) % F.lit(1_000_003)).alias("h"))

    def references(self) -> None:
        from fastbloom_spark.operators.text import word_ngrams_col

        if self.wants("dedup"):
            self.dedup_ref = self._dedup_pairs()
        if self.wants("pipeline"):
            self.pipe_ref = tuple(self._pipeline().first())
        if not self.wants("decontam"):
            return
        grams = self.docs.select("doc_id", F.explode(
            word_ngrams_col("text", 5)).alias("gram"))
        bench = self.bench_big.select(F.explode(
            word_ngrams_col("text", 5)).alias("gram")).distinct()
        self.decontam_ref = {r.doc_id: r.n for r in grams.join(
            bench, on="gram").groupBy("doc_id").agg(
            F.countDistinct("gram").alias("n")).collect()}

    def dedup(self) -> None:
        check(self._dedup_pairs() == self.dedup_ref,
              "dedup pairs differ from the set-up result")

    def _check_report(self, rows) -> None:
        got = {r["doc_id"]: r["n_matched_grams"] for r in rows}
        check(got == self.decontam_ref,
              "decontamination differs from the exact overlap join")

    def decontam(self) -> None:
        self._check_report(self._report().collect())

    def pipeline(self) -> None:
        check(tuple(self._pipeline().first()) == self.pipe_ref,
              "pipeline output differs from the set-up result")

    def ops(self) -> list[Op]:
        n = self.n_docs
        return [Op("dedup", "dedup_docs_per_s", n, self.dedup),
                Op("decontam", "decontam_docs_per_s", n, self.decontam),
                Op("pipeline", "pipeline_docs_per_s", n, self.pipeline)]

    def trace(self, rec):
        self.dedup_counts: list[tuple[int, int]] = []

        def dedup() -> None:
            got = self._dedup_pairs(rec)
            self.dedup_counts.append((self.n_cand, len(got)))
            check(got == self.dedup_ref, "dedup pairs")

        def decontam() -> None:
            with rec.span("contamination_report (grams, filter)",
                          "operators.decontam"):
                rep = self._report()
            with rec.span("gram explode+probe collect",
                          "operators.decontam"):
                rows = rep.collect()
            self.flagged_docs = len(rows)
            self._check_report(rows)

        def pipeline() -> None:
            with rec.span("corpus_pipeline", "operators.pipeline"):
                got = tuple(self._pipeline().first())
            check(got == self.pipe_ref, "pipeline output")

        return {"dedup": dedup, "decontam": decontam, "pipeline": pipeline}

    def layer_metrics(self) -> dict[str, float]:
        from fastbloom_spark.operators.decontam import (benchmark_grams,
                                                        contamination_report)
        from fastbloom_spark.operators.dedup import shingles_col
        from fastbloom_spark.operators.pack import pack_documents
        from fastbloom_spark.operators.sample import split_assign
        from fastbloom_spark.operators.text import (dedup_exact,
                                                    quality_features,
                                                    redact_pii_col)

        out: dict[str, float] = {}
        out["text.shingle_s"] = _median_time(lambda: _noop(
            self.docs.select(shingles_col("text", 3).alias("s"))), reps=1)
        if getattr(self, "dedup_counts", None):
            cand = statistics.median(c for c, _ in self.dedup_counts)
            ver = statistics.median(v for _, v in self.dedup_counts)
            out["dedup.candidate_pairs"] = cand
            out["dedup.verified_pairs"] = ver
            out["dedup.useful_ratio"] = ver / cand if cand else 0.0
        out["decontam.bench_grams"] = benchmark_grams(
            self.bench_big, ngram_n=5).count()
        out["decontam.grams_s"] = _median_time(lambda: benchmark_grams(
            self.bench_big, ngram_n=5).count(), reps=1)
        out["decontam.flagged_docs"] = getattr(self, "flagged_docs", 0)
        if not self.wants("pipeline"):
            return out
        # cumulative prefixes of the pipeline's public stages
        cfg = self._pipe_cfg()
        scored = quality_features(self.docs.select("doc_id", "text"), "text")
        kept = scored.filter(F.col("quality_score") >= cfg.min_quality)
        redacted = kept.withColumn("text", redact_pii_col("text"))
        deduped = dedup_exact(redacted, "doc_id", "text")
        flagged = contamination_report(deduped, self.bench_small,
                                       ngram_n=cfg.decontam_ngram,
                                       fp=cfg.decontam_fp).select("doc_id")
        clean = deduped.join(flagged, on="doc_id", how="left_anti")
        split = split_assign(clean, ["doc_id"], list(zip(
            cfg.split_names, cfg.split_weights)), seed=cfg.split_seed)
        packed = pack_documents(
            split, "doc_id", "text", capacity=cfg.pack_capacity,
            num_shards=cfg.pack_shards, seed=cfg.pack_seed,
            group_cols=("split",), payload_cols=("text", "quality_score"))
        for key, df in (("quality", kept), ("redact", redacted),
                        ("dedup_exact", deduped), ("decontam", clean),
                        ("split_pack", packed)):
            out[f"pipeline.{key}_s"] = _median_time(lambda: _noop(df),
                                                    reps=1)
        return out
