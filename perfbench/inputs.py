"""Benchmark inputs: the query tables and the pipeline's raw landing files.

Everything here is a pure function of its arguments, so the same size and
seed always give byte-identical inputs. Nothing is read from outside the
checkout.

Query tables follow the shapes of the engine's test data (a TPC-H-like star
schema plus ``events``, ``documents`` and ``embeddings``): the same column
names and parquet types, the same categorical domains, row-count ratios,
text vocabulary, 5% near-duplicate injection and weak embedding clusters.
The values are drawn from a fixed generator seed: they are the benchmark's
data set, not a copy of the test data.

The pipeline input is the reference's raw-filing fixture (19 nested
records covering every filter/classify/normalize/dedup branch), cycled with
a per-copy entity rename as in ``scripts/bench_pipeline_scale.py``: the
first name token gets the copy tag appended, so copies never merge with
each other while every branch inside a copy fires as in the fixture.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Row counts per query table: the shape of the engine's sf0.001 smoke data.
#: Every query's time at this size is mostly fixed per-query cost (planning,
#: job and stage set-up, shuffle partition count, Python worker start-up).
TABLE_ROWS = {
    "customer": 150,
    "supplier": 10,
    "part": 200,
    "orders": 1_500,
    "events": 1_000,
    "event_users": 15,
    "documents": 500,
    "embeddings": 500,
}

#: Fixture copies already in the lake ("yesterday") and landed today, per
#: benchmark size. ``full`` is the reference's 760-record daily scale.
COPIES = {"full": (38, 2), "tiny": (1, 1)}

TABLE_SEED = 20241017

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = (["de", "en", "es", "fr", "zh"], [0.14, 0.42, 0.148, 0.146, 0.146])
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()

DAY_US = 86_400_000_000


def _us(day: str) -> int:
    return int(np.datetime64(day, "us").astype(np.int64))


def _ts(values: np.ndarray) -> pa.Array:
    return pa.array(values, pa.timestamp("us"))


def make_tables() -> dict[str, pa.Table]:
    """All ten query tables, from the fixed table seed."""
    n = TABLE_ROWS
    rng = np.random.default_rng(TABLE_SEED)
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": REGIONS,
        }
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )

    nc, ns, np_, no = n["customer"], n["supplier"], n["part"], n["orders"]
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(nc), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
            "c_acctbal": np.round(rng.uniform(-1000, 10000, nc), 2),
            "c_mktsegment": rng.choice(SEGMENTS, nc).tolist(),
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(ns), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
            "s_acctbal": np.round(rng.uniform(-1000, 10000, ns), 2),
        }
    )
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(np_), pa.int64()),
            "p_name": [
                f"{a} {b}"
                for a, b in zip(rng.choice(PART_ADJ, np_), rng.choice(PART_NOUN, np_))
            ],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, np_)],
            "p_type": rng.choice(PART_TYPES, np_).tolist(),
            "p_size": pa.array(rng.integers(1, 51, np_), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(np_) % 1000) / 10.0, 2),
        }
    )

    d0 = _us("1995-01-01")
    span_days = int((_us("2001-08-01") - d0) // DAY_US)
    o_date = d0 + rng.integers(0, span_days + 1, no) * DAY_US
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(no), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
            "o_orderstatus": rng.choice(["F", "O", "P"], no).tolist(),
            "o_totalprice": np.round(rng.uniform(1000, 500000, no), 2),
            "o_orderdate": _ts(o_date),
            "o_orderpriority": rng.choice(PRIORITIES, no).tolist(),
        }
    )

    # 1..7 lines per order, stored in shuffled row order like the test data
    lines = rng.integers(1, 8, no)
    lkey = np.repeat(np.arange(no), lines)
    nl = len(lkey)
    lnum = np.concatenate([np.arange(1, k + 1) for k in lines])
    ship = np.repeat(o_date, lines) + rng.integers(1, 96, nl) * DAY_US
    perm = rng.permutation(nl)
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(lkey[perm], pa.int64()),
            "l_partkey": pa.array(rng.integers(0, np_, nl), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
            "l_linenumber": pa.array(lnum[perm], pa.int32()),
            "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
            "l_extendedprice": np.round(rng.uniform(900, 105000, nl), 2),
            "l_discount": np.round(rng.uniform(0, 0.10, nl), 2),
            "l_tax": np.round(rng.uniform(0, 0.08, nl), 2),
            "l_returnflag": rng.choice(["A", "N", "R"], nl).tolist(),
            "l_linestatus": rng.choice(["F", "O"], nl).tolist(),
            "l_shipdate": _ts(ship[perm]),
        }
    )

    ne = n["events"]
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(ne), pa.int64()),
            "ts": _ts(np.sort(rng.integers(_us("2024-01-01"), _us("2024-01-31"), ne))),
            "user_id": pa.array(rng.integers(0, n["event_users"], ne), pa.int64()),
            "event_type": rng.choice(EVENT_TYPES, ne).tolist(),
            "value": np.round(rng.exponential(50.0, ne), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
        }
    )

    # documents: uniform 10..100 tokens over the vocabulary; 5% are another
    # document's text plus a " dup" token (the near-duplicate injection)
    nd = n["documents"]
    lens = rng.integers(10, 101, nd)
    texts = [" ".join(rng.choice(VOCAB, k)) for k in lens]
    for i in np.nonzero(rng.random(nd) < 0.05)[0]:
        src = int(rng.integers(0, nd))
        if src != i:
            texts[i] = texts[src] + " dup"
    out["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(nd), pa.int64()),
            "text": texts,
            "lang": rng.choice(LANGS[0], nd, p=LANGS[1]).tolist(),
            "source": [f"src{i % 20}" for i in range(nd)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )

    # embeddings: 64-dim unit vectors around 10 weak cluster centres
    nv = n["embeddings"]
    labels = rng.integers(0, 10, nv)
    centres = rng.normal(0, 0.07 / 8.0, (10, 64))
    vecs = centres[labels] + rng.normal(0, 0.125, (nv, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(nv), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
    return out


def write_tables(out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in make_tables().items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


# --- pipeline landing files --------------------------------------------------

_DATE = "2024-03-05T12:34:56.000Z"
_LONG_DESC = "Interconnected VoIP Numbering Authorization " + "x" * 250
_VOIP = ("24-132", "Interconnected VoIP Numbering Authorization", "WCB")
_SECTION = ("INBOX-52.15", "Request under Section 52.15(g)(3)", "WCB")

#: (id, filer, date, submission type, status, proceedings, documents) — the
#: reference-shaped fixture: suffix variants, near-duplicate and near-miss
#: names, institutional and individual filers, a blank filer, an unparseable
#: date, missing nested fields, repeated dockets and a >200-char description.
_FIXTURE = [
    ("s001", "Stratus Network, LLC", _DATE, "APPLICATION", "ACCEPTED", [_VOIP],
     ["https://docs.fcc.gov/d/1.pdf"]),
    ("s002", "Stratus Networks, LLC", "2024-05-01T00:00:00Z", "SUPPLEMENT",
     "ACCEPTED", [_VOIP], []),
    ("s003", "Acme Telecom Inc.", _DATE, "PETITION FOR DECLARATORY RULING",
     "ACCEPTED", [_SECTION], ["https://www.fcc.gov/ecfs/document/10101/1"]),
    ("s004", "Acme Telecom, L.L.C.", "2024-06-07T00:00:00Z", "AMENDMENT",
     "ACCEPTED", [_SECTION], []),
    ("s005", "Globex Communications d/b/a GloboVoice", _DATE, "REQUEST",
     "ACCEPTED", [("24-200", "Section 52.15(g)(3) request", "WCB")], []),
    ("s006", "Initech Voice Services LLC", _DATE, "APPLICATION", "ACCEPTED",
     [_VOIP, _VOIP, _SECTION], []),
    ("s007", "Wireline Competition Bureau", _DATE, "APPLICATION", "ACCEPTED",
     [_VOIP], []),
    ("s008", "Jane Q Doe", _DATE, "APPLICATION", "ACCEPTED", [_VOIP], []),
    ("s009", "Hooli Networks LLC", _DATE, "COMMENT", "ACCEPTED", [_VOIP], []),
    ("s010", "Hooli Networks LLC", "2024-02-02T00:00:00Z", "REPLY TO COMMENTS",
     "ACCEPTED", [_VOIP], []),
    ("s011", "Irrelevant Corp", _DATE, "APPLICATION", "ACCEPTED",
     [("10-90", "Universal service fund", "OEA")], []),
    ("s012", "Vandelay Industries, Inc.", _DATE, "ERRATA\n ERRATUM OR ADDENDUM",
     "ACCEPTED", [_VOIP], []),
    ("s012b", "Vandelay Industries, Inc.", "2024-07-01T00:00:00Z", "APPLICATION",
     "ACCEPTED", [_VOIP], []),
    ("s013", "Umbrella VoIP Partners LP", _DATE, "APPLICATION", "ACCEPTED",
     [("24-300", _LONG_DESC, "WCB")], []),
    ("s014", "Wayne Enterprises Communications", _DATE, None, None, [_VOIP], []),
    ("s015", None, _DATE, "APPLICATION", "ACCEPTED", [_VOIP], []),
    ("s016", "Pied Piper Telecom LLC", "not-a-date", "APPLICATION", "ACCEPTED",
     [_VOIP], []),
    ("s017", "Zeta Communications LLC", _DATE, "APPLICATION", "ACCEPTED",
     [_VOIP], []),
    ("s018", "Zetamax Communications LLC", _DATE, "APPLICATION", "ACCEPTED",
     [_VOIP], []),
]

#: What one fixture copy yields downstream (pinned to the fixture above).
COMPANIES_PER_COPY = 9
FILINGS_PER_COPY = 12


def _record(sid, filer, date, stype, status, procs, docs) -> dict:
    return {
        "id_submission": sid,
        "date_received": date,
        "date_disseminated": date,
        "submissiontype": {"description": stype} if stype is not None else None,
        "filingstatus": {"description": status} if status is not None else None,
        "proceedings": [
            {"name": n, "description": d, "bureau_name": b} for n, d, b in procs
        ]
        or None,
        "filers": [{"name": filer}] if filer else [],
        "authors": [],
        "lawfirms": [],
        "documents": [{"src": d} for d in docs],
    }


def copy_records(tag: int) -> list[dict]:
    """One fixture copy with every entity renamed by ``tag``."""
    suffix = f"{tag:05d}"
    out = []
    for sid, filer, *rest in _FIXTURE:
        if filer:
            head, sep, tail = filer.partition(" ")
            filer = head + suffix + sep + tail
        out.append(_record(f"{sid}-{tag}", filer, *rest))
    return out


def old_tags(size: str) -> list[int]:
    return list(range(COPIES[size][0]))


def new_tags(size: str, seed: int) -> list[int]:
    """The copies landed "today": distinct tags drawn from the seed."""
    rng = np.random.default_rng(seed)
    n_old, n_new = COPIES[size]
    return sorted(int(t) for t in rng.choice(np.arange(n_old, 100_000), n_new, replace=False))


def write_landing(tags: list[int], out_dir: str, seed: int | None = None) -> int:
    """Write the copies as one JSON-lines file; ``seed`` shuffles line order."""
    records = [r for tag in tags for r in copy_records(tag)]
    if seed is not None:
        order = np.random.default_rng(seed).permutation(len(records))
        records = [records[i] for i in order]
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, "filings.jsonl"), "w") as f:
        for rec in records:
            f.write(json.dumps(rec) + "\n")
    return len(records)
