"""Seeded input generators for the three benchmark workloads.

Each generator writes plain files under ``out_dir`` plus a
``manifest.json`` holding what the correctness check needs to know about
the planted structure. The same seed always produces the same files; the
program under test only ever sees the files.

    python3 perfbench/gen.py --workload study_refresh --seed 1 --out DIR

Sizes are module constants; ``perfbench/layers.json`` records why each
was chosen.
"""

from __future__ import annotations

import argparse
import json
import os
import random
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# -- study_refresh ------------------------------------------------------------

STUDIES = 2            # studies sharing one bronze and one gold store
SUBJECTS = 400         # subjects per study
REFRESH_VERSIONS = 8   # distinct file drops per study (cycled)
CHANGED_SHARE = 0.25   # share of a study's views replaced by one drop

FMT_DT = "%d-%m-%Y %H:%M"
FMT_D = "%Y-%m-%d"
TREATMENTS = ["Carboplatin", "Paclitaxel", "Bevacizumab", "Durvalumab/Placebo"]
COUNTRIES = ["DE", "FR", "US", "JP"]
BASE_DT = datetime(2021, 1, 1)

#: FIXTURES.md §1 — every clinical view and its (all-string) columns
VIEW_COLUMNS = {
    "ENROL": ["SiteGroup", "SiteNumber"],
    "IxRS": ["CentreNum", "ECode"],
    "DS": ["Subject", "DSSTDAT", "DSDECOD_STD"],
    "DEATH": ["Subject", "DTH_DAT"],
    "SURVIVE": ["Subject", "SUR_DAT", "SURSTAT_STD"],
    "HOSPAD": ["Subject", "HADMSDT", "HADMEDT"],
    "DOSEDISC": ["Subject", "IPDC_DAT", "IP_DISC_STD"],
    "EX": ["Subject", "EXSTDAT", "EXTRT"],
    "EX1": ["Subject", "EXSTDAT", "EXTRT"],
    "DOSEDISC1": ["Subject", "IPDC_DAT", "SD"],
    "DOSEDISC2": ["Subject", "IPDC_DAT", "SD"],
    "CAPRXHC": ["Subject", "PageRepeatNumber", "CXSDAT", "CXEDAT",
                "TREATSTS", "CXAGNT", "CXCLASS", "CXCHERAD"],
    "PFU": ["Subject", "PFUTYP_STD", "PFUTYPSE"],
}
VIEWS = list(VIEW_COLUMNS)


def study_code(i: int) -> str:
    return f"DG00100{2003 + i:04d}"


def _dt(rng: random.Random) -> str:
    return (BASE_DT + timedelta(minutes=rng.randrange(525600))).strftime(FMT_DT)


def _d(rng: random.Random) -> str:
    return (BASE_DT + timedelta(days=rng.randrange(365))).strftime(FMT_D)


def _maybe(rng: random.Random, val: str, p_null: float = 0.1):
    return None if rng.random() < p_null else val


def _with_dups(rng: random.Random, rows: list[dict], share: float = 0.05):
    """Append exact copies of a sample of rows (the dedup paths' input)."""
    k = int(len(rows) * share)
    return rows + [dict(r) for r in rng.sample(rows, k=k)] if k else rows


def clinical_view(view: str, rng: random.Random, subjects: list[str],
                  site_of: dict[str, str], sites: list[str],
                  country_of: dict[str, str]) -> list[dict]:
    """One FIXTURES.md §1 view: all strings, ~10% NULL dates, duplicates.

    Value-determined by construction: IxRS and PFU hold one row per
    subject, (Subject, treatment) pairs are unique within DOSEDISC1 and
    DOSEDISC2 together, and a site has one country.
    """
    if view == "ENROL":
        rows = [{"SiteGroup": _maybe(rng, country_of[s]),
                 "SiteNumber": _maybe(rng, s, 0.05)} for s in sites]
        return rows + [dict(r) for r in rows if rng.random() < 0.3]
    if view == "IxRS":
        return [{"CentreNum": _maybe(rng, site_of[s], 0.05), "ECode": s}
                for s in subjects]
    if view == "DS":
        rows = [{"Subject": s, "DSSTDAT": _maybe(rng, _dt(rng)),
                 "DSDECOD_STD": rng.choice(["C28554", "C48227", "C11111"])}
                for s in subjects for _ in range(rng.randrange(3))]
        return _with_dups(rng, rows)
    if view == "DEATH":
        return _with_dups(rng, [{"Subject": s, "DTH_DAT": _maybe(rng, _dt(rng))}
                                for s in subjects if rng.random() < 0.35])
    if view == "SURVIVE":
        return _with_dups(rng, [
            {"Subject": s, "SUR_DAT": _maybe(rng, _dt(rng)),
             "SURSTAT_STD": rng.choice(["1", "2", "2"])}
            for s in subjects if rng.random() < 0.5])
    if view == "HOSPAD":
        return _with_dups(rng, [
            {"Subject": s, "HADMSDT": _maybe(rng, _dt(rng), 0.2),
             "HADMEDT": _maybe(rng, _dt(rng), 0.2)}
            for s in subjects for _ in range(rng.randrange(3))])
    if view == "DOSEDISC":
        return _with_dups(rng, [
            {"Subject": s, "IPDC_DAT": _maybe(rng, _dt(rng)),
             "IP_DISC_STD": rng.choice(["1", "1", "2"])}
            for s in subjects if rng.random() < 0.5])
    if view in ("EX", "EX1"):
        return _with_dups(rng, [
            {"Subject": s, "EXSTDAT": _maybe(rng, _dt(rng)),
             "EXTRT": trt}
            for s in subjects if rng.random() < 0.6
            for trt in rng.sample(TREATMENTS, k=rng.randrange(1, 3))])
    if view in ("DOSEDISC1", "DOSEDISC2"):
        # DOSEDISC1 holds the even-indexed treatments, DOSEDISC2 the odd
        # ones, so (Subject, SD) stays unique across the pair
        own = TREATMENTS[0::2] if view == "DOSEDISC1" else TREATMENTS[1::2]
        return _with_dups(rng, [
            {"Subject": s, "IPDC_DAT": _maybe(rng, _d(rng)), "SD": trt}
            for s in subjects for trt in own if rng.random() < 0.4])
    if view == "CAPRXHC":
        return _with_dups(rng, [
            {"Subject": s, "PageRepeatNumber": str(rng.randrange(1, 4)),
             "CXSDAT": _maybe(rng, _d(rng)), "CXEDAT": _maybe(rng, _d(rng)),
             "TREATSTS": rng.choice(["Ongoing", "Completed"]),
             "CXAGNT": rng.choice(["AgentA", "AgentB"]),
             "CXCLASS": rng.choice(["ClassX", "ClassY"]),
             "CXCHERAD": rng.choice(["Yes", "No"])}
            for s in subjects if rng.random() < 0.4
            for _ in range(rng.randrange(1, 3))])
    if view == "PFU":
        return [{"Subject": s, "PFUTYP_STD": str(rng.randrange(1, 9)),
                 "PFUTYPSE": rng.choice(["Yes", "Yes", "No"])}
                for s in subjects if rng.random() < 0.7]
    raise ValueError(view)


def _string_table(view: str, rows: list[dict]) -> pa.Table:
    cols = VIEW_COLUMNS[view]
    return pa.table({c: pa.array([r[c] for r in rows], pa.string())
                     for c in cols})


def _write_bronze_partition(bronze: str, code: str, view: str,
                            table: pa.Table) -> None:
    """The bronze storage-boundary layout of FIXTURES.md 3, as
    ingest_batch writes it: one row per (study_code, view) partition
    holding the whole view as ``data ARRAY<STRUCT<...>>``. Pre-loading
    version 0 here keeps 26 untimed ingest jobs out of every run."""
    part = os.path.join(bronze, f"study_code={code}", f"view={view}")
    os.makedirs(part)
    struct = pa.StructArray.from_arrays(
        [c.combine_chunks() for c in table.columns], table.column_names)
    data = pa.ListArray.from_arrays(pa.array([0, len(struct)], pa.int32()),
                                    struct)
    pq.write_table(pa.table({"data": data}),
                   os.path.join(part, "part-00000.parquet"))


def gen_study_refresh(out: str, seed: int) -> dict:
    """Per study: version-0 views (pre-loaded into ``bronze/``) and
    REFRESH_VERSIONS drops, each replacing CHANGED_SHARE of the views."""
    rng = random.Random(seed)
    bronze = os.path.join(out, "bronze")
    studies = []
    n_changed = max(1, round(CHANGED_SHARE * len(VIEWS)))
    for i in range(STUDIES):
        code = study_code(i)
        subjects = [f"E{i:02d}{j:05d}" for j in range(SUBJECTS)]
        sites = [str(1200 + 10 * i + k) for k in range(1, 9)]
        site_of = {s: rng.choice(sites) for s in subjects}
        country_of = {s: COUNTRIES[k % len(COUNTRIES)]
                      for k, s in enumerate(sites)}
        drops = []
        for version in range(REFRESH_VERSIONS + 1):
            # which views a drop replaces is a fixed schedule, the same
            # for every seed, so the seed varies data and never the mix
            changed = VIEWS if version == 0 else sorted(random.Random(
                1000 * i + version).sample(VIEWS, n_changed))
            vdir = os.path.join(out, "views", code, f"v{version}")
            os.makedirs(vdir)
            for view in changed:
                table = _string_table(view, clinical_view(
                    view, rng, subjects, site_of, sites, country_of))
                pq.write_table(table, os.path.join(vdir, f"{view}.parquet"))
                if version == 0:
                    _write_bronze_partition(bronze, code, view, table)
            if version:
                drops.append(changed)
        studies.append({"study_code": code, "drops": drops})
    return {"studies": studies, "views": VIEWS}


# -- analytic_programs ----------------------------------------------------------

CUSTOMERS = 1500
SUPPLIERS = 100
PARTS = 2000
ORDERS = 15000
EVENTS = 10000
EVENT_USERS = 150

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["small", "red", "blue", "hot", "old", "large", "green", "shiny"]
PART_NOUN = ["ring", "widget", "bolt", "plate", "rod", "anvil", "gear", "nut"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def _ts_us(days_from: datetime, offsets_us: np.ndarray) -> pa.Array:
    base = int(days_from.timestamp()) * 1_000_000
    return pa.array(base + offsets_us.astype(np.int64), pa.timestamp("us"))


def gen_analytic_programs(out: str, seed: int) -> dict:
    """A TPC-H-shaped star schema with the testdata table schemas (types,
    value domains and key relationships), plus ``events``."""
    r = np.random.default_rng(seed)

    def write(name: str, cols: dict) -> None:
        pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))

    day_us = 86_400 * 1_000_000
    write("region", {
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    write("nation", {
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())})
    write("customer", {
        "c_custkey": pa.array(np.arange(CUSTOMERS), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(CUSTOMERS)],
        "c_nationkey": pa.array(r.integers(0, 25, CUSTOMERS), pa.int32()),
        "c_acctbal": np.round(r.uniform(-999, 9999, CUSTOMERS), 2),
        "c_mktsegment": r.choice(SEGMENTS, CUSTOMERS)})
    write("supplier", {
        "s_suppkey": pa.array(np.arange(SUPPLIERS), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(SUPPLIERS)],
        "s_nationkey": pa.array(r.integers(0, 25, SUPPLIERS), pa.int32()),
        "s_acctbal": np.round(r.uniform(-999, 9999, SUPPLIERS), 2)})
    write("part", {
        "p_partkey": pa.array(np.arange(PARTS), pa.int64()),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(r.integers(0, 8, PARTS), r.integers(0, 8, PARTS))],
        "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, PARTS)],
        "p_type": r.choice(PART_TYPES, PARTS),
        "p_size": pa.array(r.integers(1, 51, PARTS), pa.int32()),
        "p_retailprice": np.round(900 + np.arange(PARTS) * 0.1, 2)})

    order_day = r.integers(0, 2404, ORDERS)  # 1995-01-01 .. 2001-08-01
    write("orders", {
        "o_orderkey": pa.array(np.arange(ORDERS), pa.int64()),
        "o_custkey": pa.array(r.integers(0, CUSTOMERS, ORDERS), pa.int64()),
        "o_orderstatus": r.choice(["F", "O", "P"], ORDERS),
        "o_totalprice": np.round(r.uniform(1000, 500000, ORDERS), 2),
        "o_orderdate": _ts_us(datetime(1995, 1, 1), order_day * day_us),
        "o_orderpriority": r.choice(PRIORITIES, ORDERS)})

    lines = r.integers(1, 8, ORDERS)
    okey = np.repeat(np.arange(ORDERS), lines)
    lnum = np.concatenate([np.arange(1, k + 1) for k in lines])
    n = len(okey)
    qty = r.integers(1, 51, n).astype(float)
    write("lineitem", {
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(r.integers(0, PARTS, n), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, SUPPLIERS, n), pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * r.uniform(900, 2100, n), 2),
        "l_discount": np.round(r.integers(0, 11, n) / 100, 2),
        "l_tax": np.round(r.integers(0, 9, n) / 100, 2),
        "l_returnflag": r.choice(["A", "N", "R"], n),
        "l_linestatus": r.choice(["F", "O"], n),
        "l_shipdate": _ts_us(datetime(1995, 1, 1), (
            np.repeat(order_day, lines) + r.integers(1, 122, n)) * day_us)})

    ev_ts = np.sort(r.integers(0, 30 * day_us, EVENTS))
    write("events", {
        "event_id": pa.array(np.arange(EVENTS), pa.int64()),
        "ts": _ts_us(datetime(2024, 1, 1), ev_ts),
        "user_id": pa.array(r.integers(0, EVENT_USERS, EVENTS), pa.int64()),
        "event_type": r.choice(EVENT_TYPES, EVENTS),
        "value": np.round(r.uniform(0.01, 490, EVENTS), 2),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, EVENTS)]})
    return {"tables": ["region", "nation", "customer", "supplier", "part",
                       "orders", "lineitem", "events"],
            "lineitem_rows": int(n)}


# -- corpus_curation ------------------------------------------------------------

BASE_DOCS = 1000        # indexed corpus (the first part)
EVAL_DOCS = 100         # held-out eval set, indexed for decontamination
EPOCHS = 2              # admission epochs
EPOCH_DOCS = 200        # stream docs per epoch
BASE_DUP_SHARE = 0.2    # planted duplicates inside the base corpus
STREAM_DUP_SHARE = 0.3  # planted duplicates in the admission stream
LOW_QUALITY_SHARE = 0.05
PII_SHARE = 0.1
VOCAB = 4000
STOPWORDS = ["the", "and", "of", "to", "in", "is", "that", "for"]


def _vocab(rng: random.Random) -> list[str]:
    letters = "abcdefghijklmnopqrstuvwxyz"
    words: set[str] = set()
    while len(words) < VOCAB:
        words.add("".join(rng.choice(letters)
                          for _ in range(rng.randrange(3, 9))))
    return sorted(words)


def _doc(rng: random.Random, vocab: list[str]) -> list[str]:
    words = [rng.choice(vocab) if rng.random() > 0.12 else
             rng.choice(STOPWORDS) for _ in range(rng.randrange(50, 90))]
    words[::25] = ["the"] * len(words[::25])  # stopword ratio never 0
    if rng.random() < PII_SHARE:
        words.insert(rng.randrange(len(words)),
                     f"user{rng.randrange(10**6)}@example.org")
    return words


def _near(rng: random.Random, words: list[str], vocab: list[str]) -> list[str]:
    """A near duplicate: one word replaced (word 3-gram Jaccard ~0.9)."""
    out = list(words)
    out[rng.randrange(len(out))] = rng.choice(vocab)
    return out


def gen_corpus_curation(out: str, seed: int) -> dict:
    """Base corpus, held-out eval set and an admission stream, each with
    planted exact and near duplicates; a low-quality share that the
    quality filter must drop; a PII share that the scrub must redact."""
    rng = random.Random(seed)
    vocab = _vocab(rng)
    docs: list[tuple[int, str]] = []
    kind: dict[str, list[int]] = {"base_unique": [], "stream_unique": [],
                                  "low_quality": [], "pii": []}
    words_of: dict[int, list[str]] = {}

    def add(words: list[str]) -> int:
        doc_id = len(docs)
        docs.append((doc_id, " ".join(words)))
        words_of[doc_id] = words
        if any("@" in w for w in words):
            kind["pii"].append(doc_id)
        return doc_id

    def dup_of(pool: list[int]) -> list[str]:
        src = words_of[rng.choice(pool)]
        return list(src) if rng.random() < 0.5 else _near(rng, src, vocab)

    def low_quality() -> None:
        kind["low_quality"].append(add(rng.sample(vocab, 5)))

    n_base_unique = int(BASE_DOCS * (1 - BASE_DUP_SHARE))
    for _ in range(n_base_unique):
        kind["base_unique"].append(add(_doc(rng, vocab)))
    for _ in range(BASE_DOCS - n_base_unique):
        add(dup_of(kind["base_unique"]))
    for _ in range(int(BASE_DOCS * LOW_QUALITY_SHARE)):
        low_quality()
    base_end = len(docs)
    eval_ids = [add(_doc(rng, vocab)) for _ in range(EVAL_DOCS)]
    eval_end = len(docs)
    # stream duplicates point only at docs indexed BEFORE their epoch:
    # base originals, eval docs, or uniques admitted by earlier epochs
    epochs = []
    admitted_before = list(kind["base_unique"]) + eval_ids
    for _ in range(EPOCHS):
        start = len(docs)
        fresh = []
        dup_at = set(rng.sample(range(EPOCH_DOCS),
                                int(EPOCH_DOCS * STREAM_DUP_SHARE)))
        for j in range(EPOCH_DOCS):
            if j in dup_at:
                add(dup_of(admitted_before))
            else:
                fresh.append(add(_doc(rng, vocab)))
        for _ in range(int(EPOCH_DOCS * LOW_QUALITY_SHARE)):
            low_quality()
        kind["stream_unique"].extend(fresh)
        admitted_before.extend(fresh)
        epochs.append([start, len(docs)])
    pq.write_table(pa.table({
        "doc_id": pa.array([d[0] for d in docs], pa.int64()),
        "text": [d[1] for d in docs]}), os.path.join(out, "corpus.parquet"))
    return {"n_docs": len(docs), "base": [0, base_end],
            "eval": [base_end, eval_end], "epochs": epochs, **kind}


GENERATORS = {
    "study_refresh": gen_study_refresh,
    "analytic_programs": gen_analytic_programs,
    "corpus_curation": gen_corpus_curation,
}


def generate(workload: str, seed: int, out: str) -> dict:
    """Write the workload's inputs for ``seed`` into the empty dir ``out``
    and return (and store) its manifest."""
    os.makedirs(out, exist_ok=True)
    manifest = GENERATORS[workload](out, seed)
    manifest.update(workload=workload, seed=seed)
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump(manifest, f)
    return manifest


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--workload", required=True, choices=sorted(GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    generate(a.workload, a.seed, a.out)


if __name__ == "__main__":
    main()
