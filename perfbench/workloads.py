"""The workloads. Each one generates its inputs from the seed, prepares
its fixture, and runs iterations of its own loop: an ``iteration`` is a
whole unit (an ETL day, a round of Q1-Q6) made of timed ops.
After every op, outside its timer, the op's outputs are checked.

Untraced ops call the program the way its users do (``run_*_etl``, the
``qN`` functions). Traced ops make the same calls one layer at a time,
materializing each layer's output inside its span so its time and stage
counters are its own; the difference between the two is reported as
tracing overhead. The curation chain is not a workload: the analyst
workload's traced run probes it (see ``Curation``)."""

from __future__ import annotations

import os
import random
import shutil
import statistics
import time
from collections.abc import Callable
from dataclasses import dataclass, field

import inputs
import oracle
import pyarrow.parquet as pq
from tracing import Tracer
from pyspark.sql import functions as F

from airbnb_listings_reviews_data_engineering_spark import checkpoint
from airbnb_listings_reviews_data_engineering_spark.airbnb import analysis, etl
from airbnb_listings_reviews_data_engineering_spark.functions import percentile
from airbnb_listings_reviews_data_engineering_spark.operators import dedup, text
from airbnb_listings_reviews_data_engineering_spark.sources import atomic


@dataclass
class Results:
    """What one measured loop observed."""
    lat: list[float] = field(default_factory=list)  # seconds per op
    rows: int = 0  # input rows the timed ops processed
    attempted: int = 0
    failed: int = 0
    quality: list[float] = field(default_factory=list)
    errors: list[str] = field(default_factory=list)
    layer: dict[str, list[float]] = field(default_factory=dict)
    budget: float = float("inf")  # seconds of op time to measure
    max_ops: float = float("inf")  # ops after which an iteration stops early
    # called with the session before each op, outside its timer; returns
    # the session the op is to use (the runner restarts it for set-ups)
    before_op: Callable = lambda spark: spark

    def spent(self) -> bool:
        return sum(self.lat) >= self.budget

    def full(self) -> bool:
        return len(self.lat) >= self.max_ops

    def op(self, seconds: float, rows: int) -> None:
        self.lat.append(seconds)
        self.rows += rows

    def check(self, errs: list[str], quality: float) -> None:
        self.attempted += 1
        self.quality.append(quality)
        if errs:
            self.failed += 1
            self.errors += errs

    def note(self, key: str, value: float) -> None:
        self.layer.setdefault(key, []).append(value)


def _materialize(df):
    """Cache ``df`` and run it once, so the span around this call owns
    the work; returns (cached frame, row count)."""
    df = df.cache()
    return df, df.count()


def _data_files(path: str) -> list[str]:
    return [os.path.join(path, f) for f in os.listdir(path)
            if not f.startswith((".", "_"))]


def _clone_store(src: str, dst: str) -> None:
    """Copy an output root. Its published tables are absolute symlinks
    into their versions dirs; each copy is re-pointed into ``dst``."""
    shutil.copytree(src, dst, symlinks=True)
    for name in os.listdir(dst):
        link = os.path.join(dst, name)
        if os.path.islink(link):
            target = os.path.relpath(os.readlink(link), src)
            os.remove(link)
            os.symlink(os.path.join(dst, target), link)


def _tree_bytes(root: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(root) for f in fs
               if not os.path.islink(os.path.join(d, f)))


def med(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


class Workload:
    name = ""

    WARM_OPS = 0  # ops the warm-up pass runs

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.work = work
        self.generated = False

    def generate(self) -> None:
        """Write the inputs (may run while the session starts)."""
        self._generate()
        self.generated = True

    def _generate(self) -> None:
        raise NotImplementedError

    def prepare(self, spark, res: Results) -> None:
        """Untimed fixture, once, in the first session; its checks count
        into ``res``."""

    def warm_up(self, spark, tracer, res: Results):
        """Iterations until WARM_OPS ops have run, so the measured ops find
        the JVM's compiled code, codegen and file caches warm (op latency
        still falls over a JVM's first few iterations); returns the
        session."""
        res.max_ops = self.WARM_OPS
        k = -1
        while not res.full():
            n = len(res.lat)
            spark = self.iteration(spark, tracer, res, k)
            k -= 1
            if len(res.lat) == n:  # every op failed; the failures are counted
                break
        return spark

    def iteration(self, spark, tracer, res: Results, k: int):
        """Run iteration ``k`` (negative for warm-up passes); returns the
        session, which ``res.before_op`` may have replaced."""
        raise NotImplementedError

    def probe(self, spark, tracer, res: Results) -> None:
        """Traced-only extra calls for counters no op exposes."""

    def layer_metrics(self, spans, res: Results, untraced: Results) -> dict:
        return {}


# --------------------------------------------------------------- daily ETL

class DailyEtl(Workload):
    """Each op is one day of the daily job on a store that holds
    yesterday's publish: run_listings_etl on the day's full Listings.csv,
    then run_reviews_etl merging the day's Reviews.csv batch into the
    stored doc_reviews. The fixture publishes day 1 once; before each op,
    outside its timer, the op gets a fresh copy of that store, so every op
    does the same work (day 2 on day 1's store)."""

    name = "daily_etl"
    LISTINGS = 2000
    REVIEWS_PER_DAY = 10000
    WARM_OPS = 4

    def _generate(self):
        inp = os.path.join(self.work, "in")
        os.makedirs(inp)
        u = inputs.ListingsUniverse(self.seed, self.LISTINGS)
        batches = u.review_batches(inp, 2, self.REVIEWS_PER_DAY)
        self.days = []
        for d, batch in enumerate(batches, 1):
            path = os.path.join(inp, f"listings_day{d}.csv")
            self.days.append((path, u.snapshot(d, 2, path), batch))
        # the store holds both days' deliveries after an op
        self.delivered = sum(os.path.getsize(p) + os.path.getsize(b.path)
                             for p, _, b in self.days)
        self.base = os.path.join(self.work, "day1")

    def prepare(self, spark, res):
        lpath, ltruth, batch = self.days[0]
        etl.run_listings_etl(spark, lpath, self.base)
        etl.run_reviews_etl(spark, batch.path, self.base)
        spark.catalog.clearCache()
        errs = oracle.check_listings(self.base, ltruth.ids, ltruth.docs)
        errs += oracle.check_reviews(self.base, batch.truth)
        res.check([f"day 1: {e}" for e in errs], 0.0 if errs else 1.0)

    def iteration(self, spark, tracer, res, k):
        lpath, ltruth, batch = self.days[1]
        out = os.path.join(self.work, "store")
        shutil.rmtree(out, ignore_errors=True)
        _clone_store(self.base, out)
        spark = res.before_op(spark)
        tracer.iteration = (k, "day")
        try:
            if tracer.enabled:
                self._traced_day(spark, tracer, res, lpath, batch.path, out)
            else:
                t0 = time.perf_counter()
                etl.run_listings_etl(spark, lpath, out)
                t1 = time.perf_counter()
                etl.run_reviews_etl(spark, batch.path, out)
                t2 = time.perf_counter()
                res.op(t2 - t0, ltruth.rows + batch.rows)
                res.note("etl.listings_day_s", t1 - t0)
                res.note("etl.reviews_day_s", t2 - t1)
        except Exception as e:  # noqa: BLE001 — a failed day is counted
            res.check([f"day 2: {e!r}"], 0.0)
            spark.catalog.clearCache()
            return spark
        # a daily job runs in a fresh process: drop what it cached
        spark.catalog.clearCache()
        errs = oracle.check_listings(out, ltruth.ids, ltruth.docs)
        errs += oracle.check_reviews(out, batch.truth)
        res.check([f"day 2: {e}" for e in errs], 0.0 if errs else 1.0)
        res.note("etl.stored_bytes_per_input_byte", _tree_bytes(out) / self.delivered)
        res.note("atomic.retained_versions", sum(
            len(atomic.list_versions(os.path.join(out, t)))
            for t in (*oracle.TABLES, "listings_docs", "doc_reviews")))
        return spark

    def _traced_day(self, spark, tr, res, lpath, rpath, out):
        """run_listings_etl + run_reviews_etl, one layer per span."""
        with tr.span("op.day") as root:
            with tr.span("sources.csv.read_listings_csv") as s:
                raw, n = _materialize(etl.read_listings_csv(spark, lpath))
            s.attrs["rows"] = n
            with tr.span("etl.clean_listings"):
                clean, _ = _materialize(etl.clean_listings(raw))
            with tr.span("etl.split_tables"):
                tables = etl.split_tables(clean)
            with tr.span("etl.build_listing_docs"):
                tables["listings_docs"] = etl.build_listing_docs(clean)
            for name, t in tables.items():
                with tr.span("atomic.publish_parquet", table=name) as s:
                    v = atomic.publish_parquet(t, f"{out}/{name}")
                self._written(s, v)
            with tr.span("sources.csv.read_reviews_csv") as s:
                raw_r, n = _materialize(etl.read_reviews_csv(spark, rpath))
            s.attrs["rows"] = n
            with tr.span("etl.reviews_to_arrays"):
                arrays, _ = _materialize(etl.reviews_to_arrays(etl.clean_reviews(raw_r)))
            target = f"{out}/doc_reviews"
            with tr.span("atomic.read_published"):
                base = atomic.read_published(spark, target)
            merged = arrays
            if base is not None:
                with tr.span("merge.merge_reviews_into_docs") as s:
                    merged, n = _materialize(etl.merge_reviews_into_docs(base, arrays))
                s.attrs["rows"] = n
            with tr.span("atomic.publish_parquet", table="doc_reviews") as s:
                v = atomic.publish_parquet(merged, target)
            self._written(s, v)
            with tr.span("atomic.read_published"):
                atomic.read_published(spark, target)
        res.op(root.dur, 0)

    @staticmethod
    def _written(span, version_dir):
        files = _data_files(version_dir)
        span.attrs["files"] = len(files)
        span.attrs["bytes"] = sum(os.path.getsize(f) for f in files)

    def probe(self, spark, tracer, res):
        """How many times one real run_listings_etl reads its CSV: local
        file bytes read during the call (Hadoop FileSystem statistics; the
        call writes parquet but reads nothing else) over the file's size."""
        fs = spark._jvm.org.apache.hadoop.fs.FileSystem  # noqa: SLF001

        def bytes_read():
            return sum(s.getBytesRead() for s in fs.getAllStatistics()
                       if s.getScheme() == "file")

        lpath = self.days[0][0]
        out = os.path.join(self.work, "probe")
        tracer.iteration = "probe"
        before = bytes_read()
        with tracer.span("probe.run_listings_etl"):
            etl.run_listings_etl(spark, lpath, out)
        res.note("etl.csv_scans_per_day", (bytes_read() - before) / os.path.getsize(lpath))
        spark.catalog.clearCache()
        shutil.rmtree(out, ignore_errors=True)

    def layer_metrics(self, spans, res, untraced):
        days: dict = {}
        for s in spans:
            if s.name.startswith("op."):
                continue
            days.setdefault(s.iteration, []).append(s)

        def per_day(pred, value):
            return med([sum(value(s) for s in ss if pred(s.name))
                        for it, ss in days.items() if it != "probe"])

        csv_ = lambda n: n.startswith("sources.csv.")  # noqa: E731
        etl_ = lambda n: n.startswith("etl.")  # noqa: E731
        pub = lambda n: n == "atomic.publish_parquet"  # noqa: E731
        merges = [s for s in spans if s.name == "merge.merge_reviews_into_docs"]
        return {
            "sources.csv_parse_s": per_day(csv_, lambda s: s.self_time),
            "sources.csv_parse_tasks": per_day(csv_, lambda s: s.counters["tasks"]),
            "sources.csv_rows_in": per_day(csv_, lambda s: s.counters["input_records"]),
            "etl.clean_s": per_day(etl_, lambda s: s.self_time),
            "etl.clean_shuffle_bytes": per_day(etl_, lambda s: s.counters["shuffle_write_bytes"]),
            "etl.csv_scans_per_day": med(res.layer.get("etl.csv_scans_per_day", [])),
            "etl.listings_day_s": med(untraced.layer.get("etl.listings_day_s", [])),
            "etl.reviews_day_s": med(untraced.layer.get("etl.reviews_day_s", [])),
            "etl.stored_bytes_per_input_byte": med(untraced.layer.get("etl.stored_bytes_per_input_byte", [])),
            "atomic.publish_s": per_day(pub, lambda s: s.self_time),
            "atomic.files_written": per_day(pub, lambda s: s.attrs["files"]),
            "atomic.bytes_written": per_day(pub, lambda s: s.attrs["bytes"]),
            "atomic.retained_versions": med(untraced.layer.get("atomic.retained_versions", [])),
            "merge.reviews_s": med([s.self_time for s in merges]),
            "merge.shuffle_bytes": med([s.counters["shuffle_write_bytes"] for s in merges]),
            "merge.rows_out": med([s.attrs["rows"] for s in merges]),
        }


# ---------------------------------------------------------- analyst queries

QUERY_TABLES = {
    "q1": ("listings_docs", "doc_reviews", "hotel_location", "price_info"),
    "q2": ("hotel_location", "hotel_facilities", "price_info"),
    "q3": ("hotel_location", "hotel_facilities", "price_info"),
    "q4": ("hotel_location", "hotel_facilities", "price_info"),
    "q5": ("listings_docs", "doc_reviews", "hotel_location", "hotel_facilities"),
    "q6": ("listings_docs", "doc_reviews"),
}


def _run_query(q: str, T: dict):
    hl, hf, pi = (T.get(t) for t in ("hotel_location", "hotel_facilities", "price_info"))
    docs = None
    if "listings_docs" in T:
        docs = T["listings_docs"].join(
            T["doc_reviews"].withColumnRenamed("listing_id", "id"), "id", "left")
    return {
        "q1": lambda: analysis.q1_quiet_listings(docs, hl, pi),
        "q2": lambda: analysis.q2_washington_apartments(hl, hf, pi),
        "q3": lambda: analysis.q3_bnb_median_price(hl, hf, pi),
        "q4": lambda: analysis.q4_house_cheaper_than_townhouse(hl, hf, pi),
        "q5": lambda: analysis.q5_park_museum_counts(docs, hl, hf),
        "q6": lambda: analysis.q6_automated_posting_reviews(docs),
    }[q]()


class AnalystQueries(Workload):
    """Q1-Q6 over tables the ETL publishes once at set-up; each round runs
    all six in a seeded shuffled order. An op reads the published tables
    it needs and collects the query's full result."""

    name = "analyst_queries"
    LISTINGS = 5000
    REVIEWS = 50000
    WARM_OPS = 12

    def _generate(self):
        inp = os.path.join(self.work, "in")
        os.makedirs(inp)
        u = inputs.ListingsUniverse(self.seed, self.LISTINGS)
        self.rpath = u.review_batches(inp, 1, self.REVIEWS)[0].path
        self.lpath = os.path.join(inp, "listings.csv")
        u.snapshot(1, 1, self.lpath)
        self.out = os.path.join(self.work, "published")
        self.curation = Curation(self.seed, os.path.join(self.work, "corpus"))

    def prepare(self, spark, res):
        etl.run_listings_etl(spark, self.lpath, self.out)
        etl.run_reviews_etl(spark, self.rpath, self.out)
        spark.catalog.clearCache()
        self.expected = oracle.expected_queries(self.out)
        files = {t: _data_files(atomic.current_version(f"{self.out}/{t}"))
                 for t in {t for ts in QUERY_TABLES.values() for t in ts}}
        self.table_files = {t: len(fs) for t, fs in files.items()}
        self.table_rows = {t: sum(pq.ParquetFile(f).metadata.num_rows for f in fs)
                           for t, fs in files.items()}

    def iteration(self, spark, tracer, res, k):
        order = sorted(QUERY_TABLES)
        if k >= 0:  # warm-up rounds keep q1..q6 order, so set-ups time the same queries
            random.Random(self.seed * 1000 + k).shuffle(order)
        for q in order:
            if res.full():
                break
            spark = res.before_op(spark)
            tracer.iteration = (k, q)
            try:
                if tracer.enabled:
                    rows, lat = self._traced_query(spark, tracer, q)
                else:
                    t0 = time.perf_counter()
                    T = {t: atomic.read_published(spark, f"{self.out}/{t}")
                         for t in QUERY_TABLES[q]}
                    rows = _run_query(q, T).collect()
                    lat = time.perf_counter() - t0
            except Exception as e:  # noqa: BLE001 — a failed query is counted
                res.check([f"{q}: {e!r}"], 0.0)
                continue
            res.op(lat, sum(self.table_rows[t] for t in QUERY_TABLES[q]))
            ok = oracle.normalize(rows) == self.expected[q]
            res.check([] if ok else [f"{q}: {len(rows)} rows differ from DuckDB "
                                     f"({len(self.expected[q])} rows)"],
                      1.0 if ok else 0.0)
        return spark

    def _traced_query(self, spark, tr, q):
        with tr.span("op.query") as root:
            T = {}
            for t in QUERY_TABLES[q]:
                with tr.span("atomic.read_published", table=t):
                    T[t] = atomic.read_published(spark, f"{self.out}/{t}")
            if q == "q3":
                # the guard q3 runs internally, called with q3's arguments
                bnb = (T["hotel_location"].join(T["hotel_facilities"], "id")
                       .join(T["price_info"], "id")
                       .filter(F.col("property_type") == "Bed & Breakfast")
                       .withColumn("price_d", F.col("price").cast("double")))
                with tr.span("percentile.exact_fits"):
                    percentile.exact_fits(bnb, ["city"], "price_d")
            with tr.span(f"analysis.{q}") as s:
                rows = _run_query(q, T).collect()
            s.attrs["rows_out"] = len(rows)
            s.attrs["files_read"] = sum(self.table_files[t] for t in QUERY_TABLES[q])
        return rows, root.dur

    def probe(self, spark, tracer, res):
        """The curation chain (see Curation): untraced, then traced."""
        self.curation.run(spark, Tracer(spark, enabled=False), res)
        self.curation.run(spark, tracer, res)

    def layer_metrics(self, spans, res, untraced):
        out = Curation.layer_metrics(spans, res)
        qs = [s for s in spans if s.name.startswith("analysis.q")]
        for q in sorted(QUERY_TABLES):
            ss = [s for s in qs if s.name == f"analysis.{q}"]
            out[f"analysis.{q}_s"] = med([s.self_time for s in ss])
            out[f"analysis.{q}_tasks"] = med([s.counters["tasks"] for s in ss])
            out[f"analysis.{q}_shuffle_bytes"] = med(
                [s.counters["shuffle_write_bytes"] for s in ss])
            out[f"analysis.{q}_rows_scanned_per_row_out"] = med(
                [s.counters["input_records"] / max(1, s.attrs["rows_out"]) for s in ss])
        out["atomic.read_files_per_query"] = med([s.attrs["files_read"] for s in qs])
        out["percentile.exact_fits_s"] = med(
            [s.self_time for s in spans if s.name == "percentile.exact_fits"])
        return out


# --------------------------------------------------------- corpus curation

class Curation:
    """exact_dedup -> minhash_lsh_pairs -> connected_components ->
    quality_score over a corpus with planted exact and near duplicates: a
    run reads the corpus, dedups it and collects the survivors' quality
    rows. Measured only in the traced run of ``analyst_queries`` (its
    ``probe``): once untraced to warm the plans, once traced."""

    ORIGINALS = 5000

    def __init__(self, seed: int, work: str):
        os.makedirs(work)
        self.corpus = inputs.curation_corpus(
            seed, self.ORIGINALS, os.path.join(work, "corpus.parquet"))

    def chain(self, spark, tr):
        docs = spark.read.parquet(self.corpus.path)
        with tr.span("dedup.exact_dedup"):
            ex = dedup.exact_dedup(docs, "doc_id", "text")
            if tr.enabled:
                ex, _ = _materialize(ex)
        kept = docs.join(ex.select(F.col("keep_id").alias("doc_id")), "doc_id", "left_semi")
        with tr.span("dedup.minhash_lsh_pairs") as s:
            pairs = dedup.minhash_lsh_pairs(kept, "doc_id", "text")
            if tr.enabled:
                pairs, s.attrs["pairs"] = _materialize(pairs)
        with tr.span("dedup.connected_components") as s:
            comps = dedup.connected_components(pairs)
            if tr.enabled:
                comps, _ = _materialize(comps)
                s.attrs["rounds"] = dedup.LAST_CC_ROUNDS
        dropped = comps.filter(F.col("node") != F.col("component")).select(
            F.col("node").alias("doc_id"))
        survivors = kept.join(dropped, "doc_id", "left_anti")
        with tr.span("text.quality_score"):
            rows = text.quality_score(survivors, "doc_id", "text").collect()
        with tr.span("checkpoint.release_pins"):
            checkpoint.release_pins(spark)
        return rows, kept

    def run(self, spark, tracer, res) -> None:
        """One run; traced when ``tracer`` is, with pin timings and a
        threshold-0 LSH call for the candidate count."""
        tracer.iteration = "curation"
        try:
            if tracer.enabled:
                checkpoint.record_pin_timings(True)
                with tracer.span("op.curation"):
                    rows, kept = self.chain(spark, tracer)
                pins = checkpoint.drain_pin_timings(spark)
                checkpoint.record_pin_timings(False)
                res.note("checkpoint.pin_count", len(pins))
                res.note("checkpoint.pin_s", sum(t for _, t in pins))
                with tracer.span("probe.lsh_candidates") as s:
                    s.attrs["pairs"] = dedup.minhash_lsh_pairs(
                        kept, "doc_id", "text", threshold=0.0).count()
                spark.catalog.clearCache()
            else:
                t0 = time.perf_counter()
                rows, _ = self.chain(spark, tracer)
                res.note("curation.run_s", time.perf_counter() - t0)
        except Exception as e:  # noqa: BLE001 — a failed run is counted
            res.check([f"curation: {e!r}"], 0.0)
            return
        errs, recall, precision = self._check(rows)
        res.note("dedup.recall", recall)
        res.note("dedup.precision", precision)
        res.check(errs, 2 * recall * precision / max(recall + precision, 1e-12))

    def _check(self, rows):
        texts = self.corpus.texts
        ids = [r["doc_id"] for r in rows]
        errs = []
        if len(set(ids)) != len(ids) or not set(ids) <= texts.keys():
            errs.append("curation: survivor ids are not a set of corpus ids")
        lowered = [texts[i].lower() for i in ids if i in texts]
        if len(set(lowered)) != len(lowered):
            errs.append("curation: two survivors share a text, exact dedup missed a copy")
        bad = [r["doc_id"] for r in rows
               if r["doc_id"] in texts and r["n_tok"] != len(texts[r["doc_id"]].split(" "))]
        if bad:
            errs.append(f"curation: quality_score token count wrong for {len(bad)} docs")
        recall, precision = oracle.dedup_scores(self.corpus.clusters, set(ids))
        return errs, recall, precision

    @staticmethod
    def layer_metrics(spans, res) -> dict:
        by = lambda n: [s for s in spans if s.name == n]  # noqa: E731
        lsh = by("dedup.minhash_lsh_pairs")
        cands = by("probe.lsh_candidates")
        return {
            "curation.run_s": med(res.layer.get("curation.run_s", [])),
            "dedup.exact_s": med([s.self_time for s in by("dedup.exact_dedup")]),
            "dedup.lsh_s": med([s.self_time for s in lsh]),
            "dedup.lsh_candidate_pairs": med([s.attrs["pairs"] for s in cands]),
            "dedup.lsh_pair_yield": med([a.attrs["pairs"] / max(1, b.attrs["pairs"])
                                         for a, b in zip(lsh, cands)]),
            "dedup.cc_s": med([s.self_time for s in by("dedup.connected_components")]),
            "dedup.cc_rounds": med([s.attrs["rounds"] for s in by("dedup.connected_components")]),
            "dedup.recall": med(res.layer.get("dedup.recall", [])),
            "dedup.precision": med(res.layer.get("dedup.precision", [])),
            "text.quality_s": med([s.self_time for s in by("text.quality_score")]),
            "checkpoint.pin_count": med(res.layer.get("checkpoint.pin_count", [])),
            "checkpoint.pin_s": med(res.layer.get("checkpoint.pin_s", [])),
        }


WORKLOADS = {w.name: w for w in (DailyEtl, AnalystQueries)}
