"""Seeded input generator for the benchmark: InsideAirbnb-shaped
Listings.csv / Reviews.csv files and a curation corpus, each with the
ground truth the correctness checks compare against.

Everything derives from one integer seed, so the same seed gives the same
bytes. The vocabulary is built from letters that cannot spell any query
keyword ("quiet", "park", "museum", "automated posting"); those words are
injected with fixed per-field probabilities, so regex selectivity is set
here, not left to chance.
"""

from __future__ import annotations

import csv
import os
from dataclasses import dataclass, field

import numpy as np

# the 61 columns the pipeline selects, in dump order (dump spelling:
# "neighbourhood")
SELECTED = [
    "id", "listing_url", "name", "summary", "space", "description",
    "neighborhood_overview", "notes", "transit", "host_id", "host_url",
    "host_name", "host_since", "host_location", "host_about",
    "host_response_time", "host_response_rate", "host_acceptance_rate",
    "host_neighbourhood", "host_listings_count", "host_total_listings_count",
    "host_verifications", "street", "neighbourhood", "city", "state",
    "zipcode", "market", "smart_location", "latitude", "longitude",
    "property_type", "room_type", "accommodates", "bathrooms", "bedrooms",
    "beds", "bed_type", "amenities", "square_feet", "price", "weekly_price",
    "monthly_price", "security_deposit", "cleaning_fee", "guests_included",
    "extra_people", "minimum_nights", "maximum_nights", "calendar_updated",
    "availability_30", "availability_60", "availability_90",
    "availability_365", "requires_license", "license", "jurisdiction_names",
    "cancellation_policy", "require_guest_profile_picture",
    "require_guest_phone_verification", "calculated_host_listings_count",
    "reviews_per_month",
]

# Columns of the real dump the pipeline never selects, at their dump
# positions (after the selected column named as key).
EXTRAS_AFTER = {
    "listing_url": ["scrape_id", "last_scraped"],
    "description": ["experiences_offered"],
    "transit": ["access", "interaction", "house_rules", "thumbnail_url",
                "medium_url", "picture_url", "xl_picture_url"],
    "host_neighbourhood": ["host_is_superhost", "host_thumbnail_url",
                           "host_picture_url"],
    "host_verifications": ["host_has_profile_pic", "host_identity_verified"],
    "neighbourhood": ["neighbourhood_cleansed",
                      "neighbourhood_group_cleansed"],
    "longitude": ["is_location_exact"],
    "availability_365": ["calendar_last_scraped", "number_of_reviews",
                         "first_review", "last_review",
                         "review_scores_rating", "review_scores_accuracy",
                         "review_scores_cleanliness",
                         "review_scores_checkin",
                         "review_scores_communication",
                         "review_scores_location", "review_scores_value"],
    "jurisdiction_names": ["instant_bookable", "is_business_travel_ready"],
}
LISTINGS_HEADER = [
    c for s in SELECTED for c in [s, *EXTRAS_AFTER.get(s, [])]
]
REVIEWS_HEADER = ["listing_id", "id", "date", "reviewer_id", "reviewer_name",
                  "comments"]

# the document text columns a listing needs non-null to survive
# build_listing_docs' na.drop (host_about rides inside a struct)
DOC_REQUIRED = ("summary", "space", "description", "neighborhood_overview",
                "notes", "transit")

CITIES = [  # (city, state, market, weight)
    ("Washington", "DC", "D.C.", 30), ("Washington, D.C.", "DC", "D.C.", 4),
    ("Arlington", "VA", "D.C.", 8), ("Alexandria", "VA", "D.C.", 6),
    ("Bethesda", "MD", "D.C.", 5), ("Silver Spring", "MD", "D.C.", 5),
    ("Takoma Park", "MD", "D.C.", 2), ("Chevy Chase", "MD", "D.C.", 2),
    ("Hyattsville", "MD", "D.C.", 2), ("Falls Church", "VA", "D.C.", 2),
]
PROPERTY_TYPES = [("Apartment", 45), ("House", 22), ("Townhouse", 12),
                  ("Condominium", 8), ("Bed & Breakfast", 5), ("Loft", 4),
                  ("Guest suite", 4)]
ROOM_TYPES = ["Entire home/apt", "Private room", "Shared room"]
NEIGHBOURHOODS = ["Capitol Hill", "Shaw", "Navy Yard", "Dupont Circle",
                  "Columbia Heights"]
POLICIES = ["flexible", "moderate", "strict_14_with_grace_period"]
AMENITY_POOL = ["TV", "Cable TV", "Internet", "Wifi", "Air conditioning",
                "Kitchen", "Heating", "Washer", "Dryer", "Essentials",
                "Shampoo", "Hangers", "Hair dryer", "Iron",
                "Laptop friendly workspace", "Free street parking"]
NAMES = ["Ana", "José", "Zoë", "François", "Björn", "Müller", "Chloé",
         "Renée", "Ingrid", "Søren", "Ana María", "Jürgen", "Noël", "Inés",
         "Sam", "Alex", "Priya", "Wei", "Omar", "Grace", "Luis", "Kate"]
CANCEL_WITH_DAYS = ("The host canceled this reservation {k} days before "
                    "arrival. This is an automated posting.")
CANCEL_NO_DAYS = ("The reservation was canceled the day before arrival. "
                  "This is an automated posting.")


class Words:
    """Zipf-weighted pseudo-word vocabulary over letters that cannot
    spell a query keyword (no p, q or m)."""

    def __init__(self, rng: np.random.Generator, size: int = 4000):
        cons, vows = "bdfglnrstvkz", "aeiou"
        syl = [c + v for c in cons for v in vows]
        vocab: set[str] = set()
        while len(vocab) < size:
            n = int(rng.integers(1, 4))
            vocab.add("".join(syl[i] for i in rng.integers(0, len(syl), n)))
        self.vocab = sorted(vocab)
        rng.shuffle(self.vocab)
        w = 1.0 / np.arange(1, size + 1) ** 1.05
        self.cdf = np.cumsum(w / w.sum())
        self.rng = rng

    def tokens(self, n: int) -> list[str]:
        idx = np.searchsorted(self.cdf, self.rng.random(n) * self.cdf[-1])
        return [self.vocab[i] for i in idx.tolist()]

    def texts(self, lengths: np.ndarray) -> list[list[str]]:
        flat = self.tokens(int(lengths.sum()))
        out, at = [], 0
        for n in lengths.tolist():
            out.append(flat[at:at + n])
            at += n
        return out


def _money(x: float) -> str:
    return f"${x:,.2f}"


@dataclass
class ListingsTruth:
    """Per-day ground truth of one Listings.csv snapshot."""
    ids: int  # distinct listing ids (= rows in every relational table)
    docs: int  # rows build_listing_docs keeps
    rows: int  # CSV data rows, duplicates included


@dataclass
class ReviewBatch:
    path: str
    rows: int
    truth: dict[int, int] = field(default_factory=dict)  # listing -> set size


class ListingsUniverse:
    """A city's listings plus the review history the daily batches draw
    from. ``snapshot`` writes one day's full Listings.csv;
    ``review_batches`` writes the daily Reviews.csv deliveries. Columns
    are drawn whole (one vectorized draw per column), rows assembled
    once."""

    def __init__(self, seed: int, n_listings: int):
        self.seed = seed
        self.rng = rng = np.random.default_rng(seed)
        self.words = Words(rng)
        self.n = n = n_listings
        ids = 1000 + 7 * np.arange(n)
        host = 50_000 + rng.integers(0, max(2, n // 3), n)
        city_i = rng.choice(len(CITIES), n, p=_weights([c[3] for c in CITIES]))
        ptype_i = rng.choice(len(PROPERTY_TYPES), n,
                             p=_weights([t[1] for t in PROPERTY_TYPES]))
        beds = rng.integers(0, 5, n)
        price = np.round(rng.lognormal(4.8, 0.6, n), 0)
        q1 = {"quiet": 0.05}
        q5 = {"park": 0.08, "museum": 0.06}
        desc = self._texts(60, 0.01, {**q1, **q5})
        tail = self._texts(15, 0.0, {})
        for i in np.flatnonzero(rng.random(n) < 0.3).tolist():
            if desc[i]:
                desc[i] += '\nGuests call it "home", truly.\n' + tail[i]
        cols = {
            "summary": self._texts(25, 0.03, {**q1, **q5}),
            "space": self._texts(30, 0.12, {**q1, **q5}),
            "description": desc,
            "neighborhood_overview": self._texts(30, 0.2, q5),
            "notes": self._texts(15, 0.3, q5),
            "transit": self._texts(15, 0.15, {}),
            "host_about": self._texts(20, 0.3, {}),
            "name": [" ".join(t).title() for t in
                     self.words.texts(rng.integers(2, 6, n))],
        }
        u = rng.random((n, 12))
        ints = rng.integers(0, 1_000_000, (n, 12))
        n_amen = rng.integers(3, 10, n)
        self.rows: list[list[str]] = []
        for i in range(n):
            lid, h = int(ids[i]), int(host[i])
            city, state, market, _ = CITIES[city_i[i]]
            p = float(price[i])
            b = int(beds[i])
            a = [AMENITY_POOL[(ints[i, 0] + 7 * k) % len(AMENITY_POOL)]
                 for k in range(n_amen[i])]
            a += ["park"] * (u[i, 0] < 0.25) + ["museum"] * (u[i, 1] < 0.2)
            row = dict.fromkeys(LISTINGS_HEADER, "")
            row.update({c: v[i] for c, v in cols.items()})
            row.update(
                id=str(lid),
                listing_url=f"https://www.airbnb.com/rooms/{lid}",
                scrape_id="20190507154000",
                last_scraped="2019-05-07",
                experiences_offered="none",
                picture_url=f"https://a0.muscache.com/im/pictures/{lid}.jpg",
                host_id=str(h),
                host_url=f"https://www.airbnb.com/users/show/{h}",
                host_name=NAMES[ints[i, 1] % len(NAMES)],
                host_since=f"201{ints[i, 2] % 9}-0{1 + ints[i, 3] % 9}-1{ints[i, 4] % 9}",
                host_location="Washington, District of Columbia, United States",
                host_response_time="within an hour",
                host_response_rate=f"{50 + ints[i, 5] % 51}%",
                host_acceptance_rate="N/A",
                host_is_superhost="t" if u[i, 2] < 0.2 else "f",
                host_neighbourhood="Capitol Hill",
                host_listings_count=str(1 + ints[i, 6] % 5),
                host_total_listings_count=str(1 + ints[i, 6] % 5),
                host_verifications="['email', 'phone', 'reviews']",
                street=f"{city}, {state}, United States",
                neighbourhood=NEIGHBOURHOODS[ints[i, 7] % len(NEIGHBOURHOODS)],
                city=city,
                state=state,
                zipcode=f"20{ints[i, 8] % 1000:03d}" + ("-1234" if u[i, 3] < 0.05 else ""),
                market=market,
                smart_location=f"{city}, {state}",
                latitude=f"{38.8 + u[i, 4] * 0.2:.6f}",
                longitude=f"{-77.1 + u[i, 5] * 0.2:.6f}",
                is_location_exact="t",
                property_type=PROPERTY_TYPES[ptype_i[i]][0],
                room_type=ROOM_TYPES[ints[i, 9] % len(ROOM_TYPES)],
                accommodates=str(max(1, 2 * b)),
                bathrooms=str(float(1 + ints[i, 10] % 3)),
                bedrooms="" if u[i, 6] < 0.02 else str(b),
                beds=str(max(1, b)),
                bed_type="Real Bed",
                amenities="{" + ",".join(f'"{x}"' if " " in x else x for x in a) + "}",
                square_feet="" if u[i, 7] < 0.95 else str(300 + ints[i, 11] % 1700),
                price=_money(p),
                weekly_price="" if u[i, 8] < 0.6 else _money(p * 6),
                monthly_price="" if u[i, 9] < 0.7 else _money(p * 25),
                security_deposit="" if u[i, 10] < 0.4 else _money(100.0),
                cleaning_fee="" if u[i, 11] < 0.3 else _money(float(10 + ints[i, 0] % 140)),
                guests_included=str(1 + ints[i, 1] % 3),
                extra_people=_money(float(ints[i, 2] % 40)),
                minimum_nights=str(1 + ints[i, 3] % 6),
                maximum_nights="1125",
                calendar_updated="2 weeks ago",
                availability_30=str(ints[i, 4] % 31),
                availability_60=str(ints[i, 5] % 61),
                availability_90=str(ints[i, 6] % 91),
                availability_365=str(ints[i, 7] % 366),
                requires_license="t",
                license="" if u[i, 0] > 0.2 else f"Hosting License: {lid}",
                jurisdiction_names='{"District of Columbia, DC"}',
                instant_bookable="f",
                cancellation_policy=POLICIES[ints[i, 8] % len(POLICIES)],
                require_guest_profile_picture="f",
                require_guest_phone_verification="t" if u[i, 1] > 0.9 else "f",
                calculated_host_listings_count=str(1 + ints[i, 9] % 5),
                reviews_per_month=f"{u[i, 2] * 5:.2f}",
            )
            self.rows.append([row[c] for c in LISTINGS_HEADER])
        self._price_at = LISTINGS_HEADER.index("price")
        self._name_at = LISTINGS_HEADER.index("name")
        self._doc_at = [LISTINGS_HEADER.index(c) for c in DOC_REQUIRED]

    def _texts(self, mean: int, p_empty: float, inject: dict[str, float]) -> list[str]:
        """One text column for every listing: Poisson(mean) tokens, empty
        with probability ``p_empty``, each ``inject`` word inserted at a
        random position with its probability."""
        rng, n = self.rng, self.n
        toks = self.words.texts(np.maximum(3, rng.poisson(mean, n)))
        for w, p in inject.items():
            hit = np.flatnonzero(rng.random(n) < p)
            for i, f in zip(hit.tolist(), rng.random(len(hit)).tolist()):
                toks[i].insert(int(f * (len(toks[i]) + 1)), w)
        empty = (rng.random(n) < p_empty).tolist()
        return ["" if e else " ".join(t) for e, t in zip(empty, toks)]

    def snapshot(self, day: int, days: int, path: str,
                 growth: float = 0.01) -> ListingsTruth:
        """Write day ``day`` (of ``days``)'s full Listings.csv: the
        universe as of that day (``growth`` of it is added per day), ~5%
        of prices re-set, and ~1% of ids delivered twice (the copy sorts
        after the original, so the original is the row clean_listings
        keeps)."""
        rng = np.random.default_rng([self.seed, day])
        n = self.n - int(self.n * growth) * (days - day)
        reprice = rng.random(n) < 0.05
        new_price = rng.integers(30, 900, n)
        dup = rng.random(n) < 0.01
        out, docs = [], 0
        for i, r in enumerate(self.rows[:n]):
            if reprice[i]:
                r = list(r)
                r[self._price_at] = _money(float(new_price[i]))
            out.append(r)
            docs += all(r[j] for j in self._doc_at)
            if dup[i]:
                c = list(r)
                c[self._name_at] += " (copy)"
                out.append(c)
        with open(path, "w", newline="", encoding="utf-8") as f:
            w = csv.writer(f, lineterminator="\n")
            w.writerow(LISTINGS_HEADER)
            w.writerows(out)
        return ListingsTruth(ids=n, docs=docs, rows=len(out))

    def review_batches(self, out_dir: str, days: int, per_day: int,
                       redeliver: float = 0.2) -> list[ReviewBatch]:
        """Write ``days`` daily ISO-8859-1 Reviews.csv batches. Reviews
        land on listings Zipf-skewed (hot keys); each batch after the
        first re-delivers ``redeliver`` of its size from earlier days,
        repeats ~0.5% of its own rows, and carries two rows the cleaner
        must drop (a non-numeric listing_id, an empty comment). ``truth``
        is the per-listing review-set size after merging that day."""
        rng = np.random.default_rng([self.seed, 10_007])
        w = 1.0 / (rng.permutation(self.n) + 1.0) ** 0.7
        pw = w / w.sum()
        delivered: list[tuple] = []  # valid review rows, in delivery order
        seen: dict[int, set] = {}
        batches = []
        next_id = 1
        for day in range(1, days + 1):
            n_new = per_day - (int(per_day * redeliver) if delivered else 0)
            listing = 1000 + 7 * rng.choice(self.n, size=n_new, p=pw)
            texts = self.words.texts(
                np.maximum(3, rng.lognormal(3.0, 0.6, n_new).astype(int)))
            u = rng.random(n_new)
            quiet = rng.random(n_new) < 0.015
            pos = rng.random(n_new)
            k = rng.integers(1, 30, n_new)
            name = rng.integers(0, len(NAMES), n_new)
            batch: list[tuple] = []
            for i in range(n_new):
                if u[i] < 0.007:
                    comment = CANCEL_WITH_DAYS.format(k=k[i])
                elif u[i] < 0.01:
                    comment = CANCEL_NO_DAYS
                else:
                    toks = texts[i]
                    if quiet[i]:
                        toks.insert(int(pos[i] * (len(toks) + 1)), "quiet")
                    comment = " ".join(toks)
                    if u[i] > 0.97:
                        comment = comment.replace(" ", "\n", 1)
                    elif u[i] > 0.95:
                        comment = f'"{comment}" she said, smiling.'
                rid = next_id + i
                batch.append((int(listing[i]), rid,
                              f"2019-{1 + (day - 1) % 12:02d}-{1 + rid % 28:02d}",
                              7_000_000 + rid, NAMES[name[i]], comment))
            next_id += n_new
            if delivered:
                old = rng.choice(len(delivered), size=per_day - n_new, replace=False)
                batch += [delivered[i] for i in old.tolist()]
            delivered += batch[:n_new]
            for r in batch:
                seen.setdefault(r[0], set()).add(r[1])
            rows = batch + [batch[i] for i in
                            rng.choice(len(batch), size=len(batch) // 200).tolist()]
            rows = [rows[i] for i in rng.permutation(len(rows)).tolist()]
            path = os.path.join(out_dir, f"reviews_day{day}.csv")
            with open(path, "w", newline="", encoding="iso-8859-1") as f:
                wr = csv.writer(f, lineterminator="\n")
                wr.writerow(REVIEWS_HEADER)
                wr.writerows(rows)
                wr.writerow(["n/a", next_id, "2019-01-01", 1, "Ana", "never lands"])
                wr.writerow([1000, next_id + 1, "2019-01-01", 2, "Ana", ""])
            batches.append(ReviewBatch(
                path=path, rows=len(rows) + 2,
                truth={k: len(v) for k, v in seen.items()},
            ))
        return batches


def _weights(w: list[float]) -> np.ndarray:
    a = np.asarray(w, dtype=float)
    return a / a.sum()


@dataclass
class Corpus:
    path: str
    clusters: dict[int, int]  # doc_id -> ground-truth cluster id
    texts: dict[int, str]


def curation_corpus(seed: int, n_orig: int, path: str,
                    exact_share: float = 0.08, near_share: float = 0.12) -> Corpus:
    """Listing-description- and review-like documents with planted
    duplicates: ``exact_share`` of the originals get a verbatim or
    case-changed copy, ``near_share`` a copy with 2-6 of its tokens
    replaced (3-shingle Jaccard roughly 0.55-0.85). Doc ids are shuffled
    so a copy's id is as likely below its original's as above. Written
    as one parquet file (doc_id bigint, text string)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng([seed, 77])
    words = Words(rng)
    lengths = np.maximum(20, rng.poisson(55, n_orig))
    origs = words.texts(lengths)
    docs: list[tuple[int, str]] = []  # (cluster, text)
    for c, toks in enumerate(origs):
        docs.append((c, " ".join(toks)))
    for c in rng.choice(n_orig, size=int(n_orig * exact_share), replace=False).tolist():
        t = docs[c][1]
        docs.append((c, t.capitalize() if rng.random() < 0.3 else t))
    for c in rng.choice(n_orig, size=int(n_orig * near_share), replace=False).tolist():
        toks = list(origs[c])
        for pos in rng.choice(len(toks), size=int(rng.integers(2, 7)), replace=False).tolist():
            toks[pos] = words.tokens(1)[0]
        docs.append((c, " ".join(toks)))
    ids = rng.permutation(len(docs)) + 1
    # ground truth merges any texts that collide after lower-casing too
    by_text: dict[str, int] = {}
    parent = list(range(n_orig))

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for c, t in docs:
        k = t.lower()
        if k in by_text:
            parent[find(c)] = find(by_text[k])
        else:
            by_text[k] = c
    clusters = {int(i): find(c) for i, (c, _) in zip(ids.tolist(), docs)}
    texts = {int(i): t for i, (_, t) in zip(ids.tolist(), docs)}
    pq.write_table(
        pa.table({"doc_id": pa.array(ids, pa.int64()),
                  "text": pa.array([t for _, t in docs])}),
        path,
    )
    return Corpus(path=path, clusters=clusters, texts=texts)
