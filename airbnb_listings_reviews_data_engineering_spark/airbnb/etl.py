"""Airbnb listings + reviews ETL as lazy Spark lineages.

Replaces both reference Airflow DAGs (Airbnb_Listings_ETL.py:225-303,
Airbnb_Review_ETL.py:128-163). Where the reference moves eager pandas
frames between worker processes via XCom and loads row-at-a-time into
Postgres/Mongo, here each pipeline is ONE lazy lineage: the cleaned frame
is cached once and fanned out to the 6 sinks; the only shuffle in either
pipeline is the reviews groupBy. Every step is a column expression — zero
UDFs (SURVEY.md §2.9).

Deliberate divergences from the reference (SURVEY.md §1.2, recorded here
once, encoded identically in the oracle SQL):
- money is parsed ONCE to decimal(12,2) (`regexp_replace('[$,]','')`);
  the reference strips '$' with a regex that never matched ('$' anchors)
  and re-strips the first character in every analysis query;
- `city == 'Washington, D.C.'` normalizes BOTH city and state to DC (the
  reference writes only `state`, Airbnb_Listings_ETL.py:68-70 — we keep
  the intent, normalize consistently);
- the facilities fillna(-1) lands on numeric columns only, not on the
  text `square_feet` column (the reference fills the whole frame);
- dedup-by-id keeps the row with the lexicographically-least
  (listing_url, name) instead of pandas' arrival-order "first", which no
  distributed engine can reproduce deterministically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..operators.merge import merge_array_accum
from ..sources.atomic import publish_parquet, read_published
from .schemas import (
    DOC_TEXT_COLUMNS,
    LISTINGS_RAW_SCHEMA,
    MONEY_COLUMNS,
    REVIEWS_RAW_SCHEMA,
    SELECTED_COLUMNS,
    TABLE_SCHEMA,
)

MONEY_TYPE = "decimal(12,2)"


def read_listings_csv(spark: SparkSession, path: str) -> DataFrame:
    """Listings CSV scan matching the real dump's shape.

    Reference: pd.read_csv + df[selected_columns]
    (Airbnb_Listings_ETL.py:15-27,40-41) — name-based selection over a
    WIDER raw file (the InsideAirbnb dump has ~95 columns; the pipeline
    uses 61). Mirrored here: read every column as string by header name
    (no inference pass), select the 61 by NAME (robust to extra columns
    and reordering, exactly like pandas), then try_cast to the canonical
    types. RFC-4180 realities of the actual dump: quoted fields with
    embedded commas AND newlines (`multiLine`), doubled-quote escaping
    (`escape='"'` — Spark's default backslash escape mis-parses
    `"{TV,""Cable TV""}"`), and t/f booleans (cast handles them).

    Scale note: multiLine disables intra-file split, so one task parses
    one file; the dump ships as many per-city files, which is where this
    reader's parallelism comes from. For a single giant file use
    :func:`read_listings_csv_splittable` — the re-chunk pre-pass that
    makes the caveat a handled case.
    """
    raw = (
        spark.read.option("header", True)
        .option("multiLine", True)
        .option("escape", '"')
        .csv(path)
    )
    return _select_by_name(raw, LISTINGS_RAW_SCHEMA, "listings")


def _select_by_name(raw: DataFrame, schema: StructType, what: str) -> DataFrame:
    """Select ``schema``'s columns from an all-string CSV frame by header
    name and try_cast each to its canonical type; extra and reordered
    columns are fine, a missing one is an error."""
    missing = [f.name for f in schema.fields if f.name not in raw.columns]
    if missing:
        raise ValueError(f"{what} CSV lacks selected columns: {missing}")
    return raw.select(
        *[F.col(f.name).try_cast(f.dataType).alias(f.name) for f in schema.fields]
    )


def read_listings_csv_splittable(
    spark: SparkSession,
    path: str,
    stage_key: str = "listings_raw",
    refresh: bool = True,
) -> DataFrame:
    """Scale variant of :func:`read_listings_csv`: one multiLine parse
    lands the raw file as n-way parquet under the staging root
    (sources/csv_rechunk.py), and the 61-column name-select + try_cast
    runs over the splittable staged copy — a 1 TB single-file dump stops
    being a one-core job after the one unavoidable parse pass.
    ``refresh=False`` reuses the staged landing across runs."""
    from ..sources.csv_rechunk import rechunk_multiline_csv

    raw = rechunk_multiline_csv(
        spark, path, stage_key=stage_key, refresh=refresh
    )
    return _select_by_name(raw, LISTINGS_RAW_SCHEMA, "listings")


def read_reviews_csv(spark: SparkSession, path: str) -> DataFrame:
    """Reviews CSV scan, ISO-8859-1 (Airbnb_Review_ETL.py:22).

    Name-based like the listings scan: the real Reviews.csv carries a
    review `id` column the pipeline never uses, and comments contain
    quoted embedded newlines — positional schema application would
    misalign on the extra column, so select the 5 used columns by header
    name and cast after.
    """
    raw = (
        spark.read.option("header", True)
        .option("multiLine", True)
        .option("escape", '"')
        .option("encoding", "ISO-8859-1")
        .csv(path)
    )
    return _select_by_name(raw, REVIEWS_RAW_SCHEMA, "reviews")


def parse_money(col: str) -> F.Column:
    """'$1,234.00' -> 1234.00 — the single canonical money parse."""
    return F.regexp_replace(F.col(col), r"[$,]", "").cast(MONEY_TYPE)


def clean_listings(df: DataFrame) -> DataFrame:
    """The proccess_lists transform chain (Airbnb_Listings_ETL.py:29-87)
    as one narrow (shuffle-free apart from dedup) column-expression chain:
    select 61 -> rename -> dedup id -> parse money -> normalize zipcode /
    state -> parse amenities -> drop null names."""
    out = (
        df.select(*SELECTED_COLUMNS)
        .withColumnRenamed("neighbourhood", "neighborhood")
        # dedup_key: deterministic keep-least instead of pandas keep-first
        .withColumn(
            "_rk",
            F.row_number().over(
                W.partitionBy("id").orderBy(
                    F.col("listing_url").asc_nulls_last(),
                    F.col("name").asc_nulls_last(),
                )
            ),
        )
        .filter(F.col("_rk") == 1)
        .drop("_rk")
    )
    for c in MONEY_COLUMNS:
        out = out.withColumn(c, parse_money(c))
    out = (
        out.withColumn(
            "zipcode",
            F.when(
                F.length("zipcode") > 5, F.substring("zipcode", 1, 5)
            ).otherwise(F.col("zipcode")),
        )
        .withColumn(
            "state",
            F.when(F.col("state") == "Washington DC", "DC")
            .when(F.col("city") == "Washington, D.C.", "DC")
            .otherwise(F.col("state")),
        )
        .withColumn(
            "city",
            F.when(F.col("city") == "Washington, D.C.", "Washington").otherwise(
                F.col("city")
            ),
        )
        .withColumn(
            "amenities",
            F.when(
                F.col("amenities").isNotNull(),
                F.split(F.regexp_replace("amenities", r"[{}\"]", ""), ","),
            ),
        )
        .na.drop(subset=["name"])
    )
    return out


def split_tables(clean: DataFrame) -> dict[str, DataFrame]:
    """Vertical partition into the 5 relational tables
    (Airbnb_Listings_ETL.py:76-81,90-151). ``hotel_facilities`` gets the
    fillna(-1) sentinel on its NUMERIC columns only (divergence note in
    the module docstring)."""
    tables: dict[str, DataFrame] = {}
    for name, cols in TABLE_SCHEMA.items():
        t = clean.select(*cols)
        if name == "hotel_facilities":
            numeric = [
                c
                for c, dt in t.dtypes
                if dt in ("int", "bigint", "double", "float") and c != "id"
            ]
            t = t.na.fill(-1, subset=numeric)
        tables[name] = t
    return tables


def build_listing_docs(clean: DataFrame) -> DataFrame:
    """Document assembly (load_lists_mongo, Airbnb_Listings_ETL.py:154-207):
    text projection + host_desc struct — F.struct, not a per-row apply.
    The reference then dropna()s the whole frame; we keep that semantic."""
    return (
        clean.select(*DOC_TEXT_COLUMNS)
        .withColumn("host_desc", F.struct("host_id", "host_about"))
        .drop("host_id", "host_about")
        .na.drop()
    )


def clean_reviews(df: DataFrame) -> DataFrame:
    """proccess_reviews + the load-side casts (Airbnb_Review_ETL.py:30-86):
    select 5 -> lenient listing_id cast -> drop nulls. The reference's
    full-row dedup is left to :func:`reviews_to_arrays`, whose
    ``array_distinct`` gives set semantics per listing after the cast
    (so ``"01"`` and ``"1"`` rows collapse too) without a second shuffle."""
    return (
        df.select("listing_id", "date", "reviewer_id", "reviewer_name", "comments")
        .withColumn("listing_id", F.col("listing_id").try_cast("long"))
        .na.drop()
    )


def reviews_to_arrays(reviews: DataFrame) -> DataFrame:
    """Group reviews under their listing as a sorted set of structs — the
    $addToSet document shape (Airbnb_Review_ETL.py:82-111) in one shuffle."""
    return reviews.groupBy("listing_id").agg(
        F.array_sort(
            F.array_distinct(
                F.collect_list(
                    F.struct("date", "reviewer_id", "reviewer_name", "comments")
                )
            )
        ).alias("reviews")
    )


def merge_reviews_into_docs(docs_reviews: DataFrame, batch: DataFrame) -> DataFrame:
    """Incremental $addToSet merge of a new reviews batch into the stored
    per-listing arrays — idempotent, so daily re-runs and task retries are
    safe (inc_doc_accum, SURVEY.md §2.8)."""
    return merge_array_accum(docs_reviews, batch, key="listing_id", array_col="reviews")


def run_listings_etl(
    spark: SparkSession, csv_path: str, out_dir: str
) -> dict[str, DataFrame]:
    """The whole listings DAG as one job: read -> clean -> cache -> fan out
    to 5 relational parquet tables + 1 document table. Daily-re-run
    semantics = snapshot overwrite (exact parity with the reference's
    replace-style upsert under full reloads).

    Each sink is an atomic publish: a crash mid-fan-out (the reference's
    `retries=1` scenario, Airbnb_Listings_ETL.py:219-220) leaves every
    already-published sink complete and every untouched sink at its
    previous version — the retry re-runs the whole job and converges
    (tests/test_airbnb_pipeline.py::test_listings_etl_retry_converges).

    The cleaned-frame cache is released once the sinks are published (or
    the fan-out fails), so the returned frames are lazy lineages over the
    CSV again; read the published tables for repeated use."""
    clean = clean_listings(read_listings_csv(spark, csv_path)).cache()
    try:
        tables = split_tables(clean)
        tables["listings_docs"] = build_listing_docs(clean)
        for name, t in tables.items():
            publish_parquet(t, f"{out_dir}/{name}")
    finally:
        clean.unpersist()
    return tables


def run_reviews_etl(
    spark: SparkSession, csv_path: str, out_dir: str
) -> DataFrame:
    """The reviews DAG: read -> clean -> per-listing arrays, then MERGE
    into the stored doc_reviews table if one exists (else first load).

    Publish is ONE write to a fresh version dir + an atomic pointer swap
    (sources/atomic.py) — a crash anywhere mid-run leaves the previous
    version published and readable. ``read_published`` returns None only
    for a never-published target; real read errors propagate instead of
    being mistaken for a first run.
    """
    arrays = reviews_to_arrays(clean_reviews(read_reviews_csv(spark, csv_path)))
    target = f"{out_dir}/doc_reviews"
    base = read_published(spark, target)
    merged = arrays if base is None else merge_reviews_into_docs(base, arrays)
    publish_parquet(merged, target)
    return read_published(spark, target)

