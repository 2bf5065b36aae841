"""Independent checks of the program's outputs, computed with DuckDB over
the published parquet (never through Spark) or against the generator's
ground truth."""

from __future__ import annotations

import math
from decimal import Decimal

import duckdb

TABLES = ("host_info", "hotel_location", "hotel_facilities", "price_info",
          "host_metrics")

_ANY = "coalesce(regexp_matches({c}, '{p}', 'i'), false)"


def _any_field(fields: tuple[str, ...], pat: str) -> str:
    return "(" + " OR ".join(_ANY.format(c=c, p=pat) for c in fields) + ")"


_ADDRESS = "concat_ws('', hl.neighborhood, hl.street, ',', hl.zipcode)"
_J3 = "hl JOIN hf USING (id) JOIN pi USING (id)"
_Q5_FIELDS = ("summary", "space", "description", "neighborhood_overview", "notes")

QUERIES = {
    "q1": f"""
        WITH quiet AS (
          SELECT id FROM docs WHERE {_any_field(("summary", "space", "description"), "quiet")}
            OR coalesce(len(list_filter(reviews,
                 r -> regexp_matches(r.comments, 'quiet', 'i'))) > 0, false))
        SELECT hl.id, {_ADDRESS} AS address, pi.price AS price_per_night
        FROM hl JOIN pi USING (id) WHERE id IN (SELECT id FROM quiet)""",
    "q2": f"""
        SELECT hl.id, {_ADDRESS} AS address, pi.weekly_price
        FROM {_J3}
        WHERE hl.city = 'Washington' AND hf.bedrooms = 1
          AND hf.property_type = 'Apartment'""",
    "q3": f"""
        SELECT hl.city, count(hf.property_type) AS bed_breakfast,
               quantile_cont(CAST(pi.price AS DOUBLE), 0.5) AS median_price
        FROM {_J3} WHERE hf.property_type = 'Bed & Breakfast'
        GROUP BY hl.city""",
    "q4": f"""
        WITH j AS (SELECT hl.city, hf.property_type,
                          CAST(pi.price AS DOUBLE) AS p FROM {_J3}),
             h1 AS (SELECT city, avg(p) AS a FROM j
                    WHERE property_type = 'House' GROUP BY city),
             h2 AS (SELECT city, avg(p) AS a FROM j
                    WHERE property_type = 'Townhouse' GROUP BY city)
        SELECT h1.city FROM h1 JOIN h2 ON h1.city = h2.city
        WHERE h1.a < h2.a""",
    "q5": f"""
        WITH m AS (SELECT id FROM docs
                   WHERE {_any_field(_Q5_FIELDS, "park")}
                     AND {_any_field(_Q5_FIELDS, "museum")})
        SELECT hl.city, count(*) AS number_of_listings
        FROM hf JOIN hl USING (id)
        WHERE id IN (SELECT id FROM m)
          AND list_contains(hf.amenities, 'park')
          AND list_contains(hf.amenities, 'museum')
        GROUP BY hl.city""",
    "q6": r"""
        WITH e AS (SELECT id, unnest(reviews) AS r FROM docs)
        SELECT id, r.date, r.reviewer_id, r.reviewer_name,
               CASE WHEN regexp_extract(r.comments, '(\d+)', 1) = '' THEN 1
                    ELSE CAST(regexp_extract(r.comments, '(\d+)', 1) AS INTEGER)
               END AS cancel_days
        FROM e WHERE regexp_matches(r.comments, 'automated posting', 'i')""",
}


def _scan(out_dir: str, table: str) -> str:
    return f"read_parquet('{out_dir}/{table}/*.parquet')"


def _norm(v):
    if isinstance(v, (Decimal, float)):
        f = float(v)
        return None if math.isnan(f) else round(f, 6)
    return v


def normalize(rows) -> list[tuple]:
    """Order-insensitive, type-tolerant form of a result set: decimals
    and floats compared at 1e-6."""
    return sorted((tuple(_norm(v) for v in r) for r in rows), key=repr)


def expected_queries(out_dir: str) -> dict[str, list[tuple]]:
    """Q1-Q6 over the published tables, computed by DuckDB."""
    con = duckdb.connect()
    try:
        for alias, table in (("hl", "hotel_location"), ("hf", "hotel_facilities"),
                             ("pi", "price_info"), ("ld", "listings_docs"),
                             ("dr", "doc_reviews")):
            con.execute(f"CREATE VIEW {alias} AS SELECT * FROM {_scan(out_dir, table)}")
        con.execute("CREATE VIEW docs AS SELECT ld.*, dr.reviews "
                    "FROM ld LEFT JOIN dr ON ld.id = dr.listing_id")
        return {q: normalize(con.execute(sql).fetchall())
                for q, sql in QUERIES.items()}
    finally:
        con.close()


def check_listings(out_dir: str, ids: int, docs: int) -> list[str]:
    """Row counts of the five relational tables and the document table
    against the snapshot's ground truth; returns the mismatches."""
    con = duckdb.connect()
    try:
        errs = []
        for t, want in [*((t, ids) for t in TABLES), ("listings_docs", docs)]:
            got = con.execute(f"SELECT count(*) FROM {_scan(out_dir, t)}").fetchone()[0]
            if got != want:
                errs.append(f"{t}: {got} rows, expected {want}")
        return errs
    finally:
        con.close()


def check_reviews(out_dir: str, truth: dict[int, int]) -> list[str]:
    """Per-listing review-set sizes of the stored doc_reviews against the
    generator's count of distinct reviews delivered so far."""
    con = duckdb.connect()
    try:
        got = dict(con.execute(
            f"SELECT listing_id, len(reviews) FROM {_scan(out_dir, 'doc_reviews')}"
        ).fetchall())
    finally:
        con.close()
    if got == truth:
        return []
    bad = [k for k in truth.keys() | got.keys() if got.get(k) != truth.get(k)]
    k = sorted(bad)[0]
    return [f"doc_reviews: {len(bad)} listings differ, e.g. {k}: "
            f"{got.get(k)} reviews, expected {truth.get(k)}"]


def dedup_scores(clusters: dict[int, int], survivors: set[int]) -> tuple[float, float]:
    """(recall, precision) of a dedup against planted clusters: a cluster
    of n documents should lose n-1 of them; removals beyond that (a
    cluster left with no survivor, or one merged into another) are
    wrong."""
    members: dict[int, list[int]] = {}
    for d, c in clusters.items():
        members.setdefault(c, []).append(d)
    should = correct = removed = 0
    for docs in members.values():
        gone = sum(d not in survivors for d in docs)
        should += len(docs) - 1
        removed += gone
        correct += min(gone, len(docs) - 1)
    return correct / max(should, 1), correct / max(removed, 1)
