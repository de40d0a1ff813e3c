"""Seeded input generators for the benchmark.

Two kinds of input:

- ``write_tables``: the ten catalog tables (TPC-H-ish star schema plus
  ``events``, ``documents`` and ``embeddings``) at a scale factor, written as
  one parquet file each, with the column names, types and value shapes the
  query registry expects. The tables are a pure function of
  ``(sf, TABLE_SEED)``: every run of a query workload reads the same data, so
  the oracle answers do not depend on the run seed.
- ``PatientStream``: FHIR Patient batches for the ingest workload, a pure
  function of the run seed, together with the counts and warehouse contents
  the engine must produce for them.
"""

from __future__ import annotations

import datetime as dt
import os
import uuid
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLE_SEED = 42

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_PART_ADJ = ["red", "new", "hot", "small", "cold", "large", "old", "blue"]
_PART_NOUN = ["bolt", "anvil", "ring", "rod", "plate", "gear", "nut", "pipe"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, start: str, n_days: int, n: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + rng.integers(0, n_days, n).astype("timedelta64[D]")


def make_tables(sf: float) -> dict[str, pa.Table]:
    """The ten catalog tables at scale factor ``sf`` (sf0.1: 600k lineitem)."""
    rng = np.random.default_rng(TABLE_SEED)
    n_cust = max(1, int(150_000 * sf))
    n_supp = max(1, int(10_000 * sf))
    n_part = max(1, int(200_000 * sf))
    n_ord = max(1, int(1_500_000 * sf))
    n_li = max(1, int(6_000_000 * sf))
    n_ev = max(1, int(1_000_000 * sf))
    n_users = max(1, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))

    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": _REGIONS}
    )
    tables["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    tables["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, n_cust)],
        }
    )
    tables["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    names = np.array([f"{a} {b}" for a in _PART_ADJ for b in _PART_NOUN])
    tables["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": names[rng.integers(0, len(names), n_part)],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": np.array(_PART_TYPES)[rng.integers(0, 6, n_part)],
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2),
        }
    )
    tables["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": pa.array(_days(rng, "1995-01-01", 2405, n_ord)),
            "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, n_ord)],
        }
    )
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
            "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
            "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
            "l_shipdate": pa.array(_days(rng, "1995-01-02", 2499, n_li)),
        }
    )
    month_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, month_us, n_ev)) + np.datetime64("2024-01-01", "us")
    tables["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": pa.array(ts),
            "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
            "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, n_ev)],
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    words = np.array(_WORDS)
    lengths = rng.integers(10, 101, n_docs)
    texts = [" ".join(words[rng.integers(0, len(words), k)]) for k in lengths]
    # 5% near-duplicates: another document's text plus one marker token
    for i in rng.choice(n_docs, n_docs // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, n_docs))] + " dup"
    tables["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": texts,
            "lang": np.array(_LANGS)[rng.choice(5, n_docs, p=_LANG_P)],
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    vecs = rng.standard_normal((n_emb, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    tables["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_emb), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
        }
    )
    return tables


def write_tables(out_dir: str, sf: float) -> None:
    """Write every table to ``<out_dir>/<name>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in make_tables(sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


# -- FHIR patient batches ------------------------------------------------------

_FIRST = ["Ana", "Ben", "Chen", "Dara", "Eli", "Fay", "Gus", "Hana", "Ivo", "Jun"]
_LAST = ["Abe", "Brook", "Cruz", "Diaz", "Eng", "Fox", "Gil", "Holt", "Ito", "Jain"]
_GENDERS = ["male", "female", "other", "unknown"]

#: one invalid field per invalid record: (field, bad value)
_FAULTS = [
    ("resourceType", "Observation"),
    ("mrn", ""),
    ("name", None),
    ("birthDate", "1990/01/01"),
    ("gender", "INVALID"),
    ("ssn", "BAD-SSN"),
]


BATCH_SIZE = 500
#: shares of a batch: schema-invalid, without data_sharing consent, and
#: re-sent MRNs of already-loaded patients (the conflict route); the rest
#: are new patients that must load
KIND_SHARES = [0.70, 0.05, 0.20, 0.05]


@dataclass
class Batch:
    """One POST /ingest body plus the counts the pipeline must report."""

    records: list[dict]
    expected_counts: dict[str, int]


class PatientStream:
    """Seeded FHIR Patient batches (see ``KIND_SHARES``).

    ``loaded`` maps every MRN the warehouse must hold to its plaintext
    record, so listings and the final warehouse contents can be checked.
    """

    def __init__(self, seed: int):
        self.rng = np.random.default_rng([seed, 1])
        self.loaded: dict[str, dict] = {}
        self._used_mrns: set[str] = set()

    def _fresh_mrn(self) -> str:
        while True:
            mrn = f"MRN-{int(self.rng.integers(0, 10**9)):09d}"
            if mrn not in self._used_mrns:
                self._used_mrns.add(mrn)
                return mrn

    def _patient(self) -> dict:
        rng = self.rng
        born = dt.date(1930, 1, 1) + dt.timedelta(days=int(rng.integers(0, 30_000)))
        rec = {
            "resourceType": "Patient",
            "mrn": self._fresh_mrn(),
            "name": f"{_FIRST[rng.integers(0, 10)]} {_LAST[rng.integers(0, 10)]}",
            "birthDate": born.isoformat(),
            "gender": _GENDERS[rng.integers(0, 4)],
            "consent": {"data_sharing": True, "research": bool(rng.integers(0, 2))},
        }
        # ssn is optional in the contract: one in ten patients omits it
        if rng.random() >= 0.1:
            rec["ssn"] = (
                f"{rng.integers(0, 1000):03d}-{rng.integers(0, 100):02d}-"
                f"{rng.integers(0, 10000):04d}"
            )
        return rec

    def next_batch(self) -> Batch:
        rng = self.rng
        n = BATCH_SIZE
        kinds = rng.choice(len(KIND_SHARES), n, p=KIND_SHARES)
        resend_pool = sorted(self.loaded)
        picks = (
            iter(rng.permutation(resend_pool).tolist()) if resend_pool else iter(())
        )
        records, loaded = [], []
        counts = dict.fromkeys(("invalid", "blocked", "resent"), 0)
        for kind in kinds.tolist():
            rec = self._patient()
            if kind == 1:
                key, bad = _FAULTS[rng.integers(0, len(_FAULTS))]
                rec[key] = bad
                counts["invalid"] += 1
            elif kind == 2:
                variant = rng.integers(0, 3)
                if variant == 0:
                    rec["consent"]["data_sharing"] = False
                elif variant == 1:
                    del rec["consent"]["data_sharing"]
                else:
                    rec["consent"] = None
                counts["blocked"] += 1
            elif kind == 3 and (mrn := next(picks, None)) is not None:
                rec = dict(self.loaded[mrn])
                counts["resent"] += 1
            else:
                loaded.append(rec)
            records.append(rec)
        valid = n - counts["invalid"]
        consented = valid - counts["blocked"]
        expected = {
            "extract_count": n,
            "valid_count": valid,
            "invalid_count": counts["invalid"],
            "consented_count": consented,
            "blocked_count": counts["blocked"],
            "transform_count": consented,
            "load_count": consented - counts["resent"],
        }
        for rec in loaded:
            self.loaded[rec["mrn"]] = rec
        return Batch(records, expected)

    def unknown_id(self) -> str:
        """A patient id no ingest can have produced (ids are uuid4)."""
        return str(uuid.UUID(int=int(self.rng.integers(0, 2**62)), version=4))
