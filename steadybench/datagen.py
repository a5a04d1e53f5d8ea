"""Seeded inputs for the three workloads.

Everything here is a pure function of the seed: the same seed gives the
same FIXTURES-shaped pipeline sources (with the ground truth the DAG's
outputs are checked against) and the same documents, embeddings and
events tables for the registry queries.
"""

from __future__ import annotations

import os
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Vocabulary of the repository's test-data documents table (30 words + the "dup" marker
# its near-duplicate copies carry); "the" makes some docs langid as English.
WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "en", "fr", "es", "zh", "de")

# --------------------------------------------------------------------------
# migdar_dag: FIXTURES F1-F7 sources
# --------------------------------------------------------------------------
LIFE_AREAS = [
    ("בריאות", "Health", "الصحة"),
    ("תעסוקה", "Employment", "العمل"),
    ("חינוך", "Education", "التعليم"),
    ("דיור", "Housing", "الإسكان"),
    ("משפט", "Law", "القانون"),
    ("רווחה", "Welfare", "الرفاه"),
    ("ביטחון", "Security", "الأمن"),
    ("תרבות", "Culture", "الثقافة"),
]
CHART_TYPES = ("קו", "עמודות", "עמודות מוערמות", "עוגה")
YEARS = ("2010", "2011", "2012", "2013", "2014", "2015")


def is_broken(url: str) -> bool:
    """The deterministic stand-in for an HTTP HEAD: about one URL in five
    is broken, chosen by a checksum of the URL."""
    return zlib.crc32(url.encode()) % 5 == 0


def check_url(row: dict) -> dict:
    """``broken_links``' injected checker (``params['check_url']``), local
    and network-free so ``parallel_http`` runs without a network."""
    if is_broken(row["url"]):
        return {"status": 404, "error": "HTTP 404"}
    return {"status": 200, "error": None}


def pipeline_sources(seed: int, n_orgs: int = 240, n_pubs: int = 300,
                     n_zotero: int = 200, n_charts: int = 40) -> tuple[dict, dict]:
    """Rows + DDL schemas for the five injected sources, and the ground
    truth: per-pipeline row counts and the broken-link URL set."""
    rng = np.random.RandomState(seed)
    keys = []
    translations = []
    for he, en, ar in LIFE_AREAS:
        translations.append((he, he, en, ar))
        translations.append((en, he, en, ar))
        keys += [he, en]
    # URL pool shared by publications and organisations: repeats exercise
    # the first-seen dedup of broken_links.
    pool = [f"http://pool{j}.example.org/r{j}" for j in range(n_pubs // 3)]
    urls: set[str] = set()

    def areas() -> str:
        return ", ".join(rng.choice(keys, size=rng.randint(1, 4), replace=False))

    orgs = []
    entity_ids: list[str] = []
    for k in range(n_orgs):
        if entity_ids and rng.rand() < 0.1:
            eid = entity_ids[rng.randint(len(entity_ids))]  # dedup-suffix case
        else:
            eid = f"58{k:05d}"
        entity_ids.append(eid)
        site = None
        r = rng.rand()
        if r < 0.4:
            site, full = f"org{k}.example.org", f"http://org{k}.example.org"
        elif r < 0.8:
            site = full = pool[rng.randint(len(pool))]
        if site is not None:
            urls.add(full)
        objective = f"ארגון {k} מקדם שוויון"
        if rng.rand() < 0.5:
            u = f"http://obj{k}.example.org/about"
            objective += f" ראו {u} לפרטים"
            urls.add(u)
        orgs.append((eid, f"ארגון {k}", f"Org {k}", ("עמותה", "חברה", "מלכ\"ר")[k % 3],
                     objective, areas(), site))
    orgs_schema = ("entity_id string, org_name string, org_name__en string, "
                   "org_kind string, objective string, life_areas string, "
                   "org_website string")

    search_import = []
    n_valid = 0
    for k in range(n_pubs):
        r = rng.rand()
        mid = "" if r < 0.04 else "None" if r < 0.08 else f"M{k}"
        n_valid += mid not in ("", "None")
        y = int(rng.randint(1990, 2024))
        pubyear = (f"{y}", f'תשס"ט {y}.', f"בשנת {y}")[k % 3]
        url = pool[rng.randint(len(pool))] if rng.rand() < 0.7 else None
        notes = None
        if rng.rand() < 0.4:
            u = f"http://note{k}.example.org/n"
            notes = f"ראו {u} והלאה"
        if mid not in ("", "None"):
            if url:
                urls.add(url)
            if notes:
                urls.add(u)
        search_import.append((mid, f"פרסום {k}", pubyear,
                              "None" if rng.rand() < 0.2 else f"הוצאה {k % 7}",
                              f"כהן, {k}", notes, url, areas(), "book", "gov",
                              "שוויון", "heb eng"))
    search_schema = ("migdar_id string, title string, pubyear string, "
                     "publisher string, author string, notes string, url string, "
                     "`Life Domains` string, `Item Type` string, "
                     "`Resource Type` string, tags string, language_code string")

    zotero = []
    n_titled = 0
    for k in range(n_zotero):
        title = "" if rng.rand() < 0.1 else f"Item {k}"
        n_titled += title != ""
        y = int(rng.randint(1990, 2024))
        url = None
        if rng.rand() < 0.6:
            j = rng.randint(len(pool))
            url = pool[j] if k % 2 else pool[j][len("http://"):]  # schemeless
        abstract = None
        if rng.rand() < 0.3:
            u = f"http://abs{k}.example.org/a"
            abstract = f"See {u} for data"
        if title:
            if url:
                urls.add(pool[j])
            if abstract:
                urls.add(u)
        he, en, _ = LIFE_AREAS[k % len(LIFE_AREAS)]
        tags = [{"tag": f"Domain_{en}"}, {"tag": "Source_Gov"}, {"tag": f"t{k % 5}"}]
        creators = [
            {"creatorType": "author", "firstName": f"A{k}", "lastName": "L",
             "name": None},
            {"creatorType": "editor", "firstName": "E", "lastName": "D",
             "name": None},
        ]
        zotero.append((f"Z{k}", title, f'תשע"ה {y}.', None, f"Journal {k % 9}",
                       None, abstract, "eng", tags, creators,
                       None, "report", url, None))
    zotero_schema = (
        "key string, title string, date string, institution string, "
        "publication string, publicationTitle string, abstractNote string, "
        "language string, tags array<struct<tag:string>>, "
        "creators array<struct<creatorType:string,firstName:string,"
        "lastName:string,name:string>>, reportType string, itemKind string, "
        "url string, volume string"
    )

    wide = []
    for c in range(n_charts):
        for s in range(int(rng.randint(2, 5))):
            vals = []
            for y in YEARS:
                r = rng.rand()
                v = round(float(rng.rand() * 100), 1)
                vals.append(None if r < 0.2 else f"{v}%" if r < 0.4
                            else f"{int(v * 1000):,}" if r < 0.6 else str(v))
            if all(v is None for v in vals):
                vals[0] = "1.0"
            wide.append((f"תרשים {c}" if s == 0 else None, f"סדרה {s}",
                         CHART_TYPES[c % len(CHART_TYPES)], "אחוזים",
                         f"cbs{c}.gov.il", *vals))
    wide_schema = ("chart_title string, series_title string, chart_type string, "
                   "units string, source_url string, "
                   + ", ".join(f"`{y}` string" for y in YEARS))

    sources = {
        "translations": (translations,
                         "key string, hebrew string, english string, arabic string"),
        "orgs": (orgs, orgs_schema),
        "zotero_items": (zotero, zotero_schema),
        "search_import": (search_import, search_schema),
        "datasets_wide": (wide, wide_schema),
    }
    n_publications = n_valid + n_titled
    truth = {
        "rows": {
            ("organisations", "orgs"): n_orgs,
            ("zotero_fetch", "zotero"): n_titled,
            ("publications", "publications"): n_publications,
            ("datasets", "datasets"): n_charts,
            ("dataset_assets", "asset_index"): n_charts,
            ("sitemap", "sitemap_urls"): n_orgs + n_publications + n_charts,
            ("broken_links", "all_links"): len(urls),
        },
        "broken": sorted(u for u in urls if is_broken(u)),
    }
    return sources, truth


# --------------------------------------------------------------------------
# curate_sweep: the documents and embeddings tables
# --------------------------------------------------------------------------
def _doc_texts(rng: np.random.RandomState, n: int) -> list[str]:
    """n texts of 10-100 vocabulary words. About 5% copy an earlier text
    with the " dup" suffix and 1% copy one exactly, so dedup has real
    pairs to find, as in the test-data documents table."""
    out: list[str] = []
    for _ in range(n):
        r = rng.rand()
        if out and r < 0.05:
            out.append(out[rng.randint(len(out))] + " dup")
        elif out and r < 0.06:
            out.append(out[rng.randint(len(out))])
        else:
            out.append(" ".join(rng.choice(WORDS, size=rng.randint(10, 101))))
    return out


def documents_table(rng: np.random.RandomState, n: int) -> pa.Table:
    texts = _doc_texts(rng, n)
    return pa.table({
        "doc_id": pa.array(range(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([LANGS[i] for i in rng.randint(len(LANGS), size=n)]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def embeddings_table(rng: np.random.RandomState, n: int, dims: int = 64,
                     clusters: int = 10) -> pa.Table:
    """n unit vectors around ``clusters`` labelled centres (sigma 0.05),
    the geometry of the test-data embeddings table."""
    centres = rng.randn(clusters, dims)
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    labels = rng.randint(clusters, size=n)
    vecs = centres[labels] + 0.05 * rng.randn(n, dims)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(range(n), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


EVENT_TYPES = ("view", "click", "purchase", "signup", "error")


def events_table(rng: np.random.RandomState, n: int, users: int = 150) -> pa.Table:
    """n events over 30 days of January 2024, with the test-data schema
    (nanosecond timestamps, a small JSON props string)."""
    start = 1_704_067_200 * 10**9  # 2024-01-01T00:00:00Z
    ts = start + np.sort(rng.randint(0, 30 * 86400 * 10**6, size=n)) * 1000
    return pa.table({
        "event_id": pa.array(range(n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("ns")),
        "user_id": pa.array(rng.randint(users, size=n), pa.int64()),
        "event_type": pa.array([EVENT_TYPES[i] for i in rng.randint(5, size=n)]),
        "value": pa.array(np.round(rng.rand(n) * 500, 2), pa.float64()),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.randint(100, size=n)]),
    })


def write_curate_tables(seed: int, out_dir: str, n_docs: int, n_vectors: int,
                        n_events: int) -> None:
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.RandomState(seed)
    for name, table in (
        ("documents", documents_table(rng, n_docs)),
        ("embeddings", embeddings_table(rng, n_vectors)),
        ("events", events_table(rng, n_events)),
    ):
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
