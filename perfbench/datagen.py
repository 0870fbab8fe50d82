"""Benchmark inputs: the parquet tables and each workload's op sequence.

Tables follow the shape of the engine's test data (same ten tables, schema,
column domains and planted duplicate rates; ``scale`` 1.0 is sf0.1). They
are generated from a fixed seed, so every run of every workload reads the
same tables. The op sequences are generated from the run's ``--seed``.
Nothing here imports the engine: the program receives only these inputs.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 4242
# Bump when the generated tables change, so cached copies are rebuilt.
DATA_VERSION = "1"

# The 31-token vocabulary of the test corpus.
VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
STATUSES = ["F", "O", "P"]
EVENT_TYPES = ["click", "view", "signup", "purchase", "error"]
LANGS = ["en", "de", "zh", "fr", "es"]
LANG_W = [0.41, 0.14, 0.15, 0.15, 0.15]
PTYPES = ["LARGE", "SMALL", "ECONOMY", "STANDARD", "PROMO", "MEDIUM"]
PART_WORDS = ["large", "hot", "blue", "red", "green", "small", "shiny", "dull"]
PART_NOUNS = ["ring", "bolt", "case", "drum", "tube", "plate"]
DAY_US = 86_400_000_000
# The branch-validation scenario ids the MCP surface serves.
SCENARIO_IDS = [
    "S001", "S002", "S003", "S004", "S013", "S014", "S015", "S016", "S022",
    "S025", "S026", "S027", "S048",
]


def _ts_us(base_us: int, offsets_us) -> pa.Array:
    return pa.array((base_us + offsets_us).astype("int64"), type=pa.timestamp("us"))


def _tables(scale: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(DATA_SEED)
    n_cust = int(15_000 * scale)
    n_supp = int(1_000 * scale)
    n_part = int(20_000 * scale)
    n_orders = int(150_000 * scale)
    n_events = int(100_000 * scale)
    n_docs = int(5_000 * scale)
    n_vecs = int(2_000 * scale)
    n_users = int(1_500 * scale)
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype="int64")),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype("int32")),
        "c_acctbal": np.round(rng.uniform(-1000, 10_000, n_cust), 2),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]),
    })
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype="int64")),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype("int32")),
        "s_acctbal": np.round(rng.uniform(-1000, 10_000, n_supp), 2),
    })
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part, dtype="int64")),
        "p_name": [
            f"{PART_WORDS[i % len(PART_WORDS)]} {PART_NOUNS[(i // 7) % len(PART_NOUNS)]}"
            for i in range(n_part)
        ],
        "p_brand": [f"Brand#{i % 25}" for i in range(n_part)],
        "p_type": pa.array(np.array(PTYPES)[rng.integers(0, len(PTYPES), n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype("int32")),
        "p_retailprice": np.round(rng.uniform(900, 1000, n_part), 2),
    })
    o_epoch = np.datetime64("1995-01-01", "us").astype("int64")
    o_span_days = (
        np.datetime64("2001-08-01", "us") - np.datetime64("1995-01-01", "us")
    ).astype("int64") // DAY_US
    o_days = rng.integers(0, o_span_days + 1, n_orders)
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_orders, dtype="int64")),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders).astype("int64")),
        "o_orderstatus": pa.array(np.array(STATUSES)[rng.integers(0, 3, n_orders)]),
        "o_totalprice": np.round(rng.uniform(1000, 500_000, n_orders), 2),
        "o_orderdate": _ts_us(o_epoch, o_days * DAY_US),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, n_orders)]),
    })
    per_order = rng.integers(1, 8, n_orders)
    l_orderkey = np.repeat(np.arange(n_orders, dtype="int64"), per_order)
    n_li = len(l_orderkey)
    linenum = np.concatenate([np.arange(1, k + 1) for k in per_order]).astype("int32")
    ship_days = np.repeat(o_days, per_order) + rng.integers(1, 96, n_li)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(l_orderkey),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li).astype("int64")),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li).astype("int64")),
        "l_linenumber": pa.array(linenum),
        "l_quantity": rng.integers(1, 51, n_li).astype("float64"),
        "l_extendedprice": np.round(rng.uniform(900, 105_000, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_li)]),
        "l_shipdate": _ts_us(o_epoch, ship_days * DAY_US),
    })
    ev_epoch = np.datetime64("2024-01-01", "us").astype("int64")
    ev_off = np.sort(rng.integers(0, 30 * DAY_US, n_events))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_events, dtype="int64")),
        "ts": _ts_us(ev_epoch, ev_off),
        "user_id": pa.array(rng.integers(0, n_users, n_events).astype("int64")),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n_events)]),
        "value": np.round(rng.uniform(0, 560, n_events), 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_events)],
    })
    vocab = np.array(VOCAB)
    texts: list[str] = []
    for i in range(n_docs):
        if i >= 100 and i % 100 == 51:
            texts.append(texts[i - 100])  # planted exact duplicate (~1%)
        elif i >= 20 and i % 20 == 7:
            toks = texts[i - 20].split(" ")  # planted near duplicate (~5%)
            toks[int(rng.integers(0, len(toks)))] = str(vocab[int(rng.integers(0, len(vocab)))])
            texts.append(" ".join(toks))
        else:
            k = int(rng.integers(12, 65))
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), k)]))
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype="int64")),
        "text": texts,
        "lang": pa.array(np.array(LANGS)[rng.choice(5, n_docs, p=LANG_W)]),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype="int64")),
    })
    labels = rng.integers(0, 10, n_vecs)
    vecs = rng.normal(0, 1, (n_vecs, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vecs, dtype="int64")),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels.astype("int32")),
    })
    return out


def ensure_tables(root: str, scale: float) -> str:
    """Write the tables for ``scale`` under ``root`` once and return the
    directory. They are built in a private directory and renamed into
    place, so an interrupted or concurrent build never leaves a partial
    table set behind the final name."""
    out = os.path.join(root, f"v{DATA_VERSION}-scale{scale:g}")
    if os.path.isdir(out):
        return out
    tmp = f"{out}.partial-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in _tables(scale).items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    try:
        os.rename(tmp, out)
    except OSError:  # another run finished the same build first
        shutil.rmtree(tmp, ignore_errors=True)
    return out


# ---------------------------------------------------------------------------
# Op sequences, one generator per workload. Each is an infinite iterator;
# the closed loop takes whole units from it until its window ends.
# ---------------------------------------------------------------------------

RECALL_BLOCK = 20  # requests per block: 2 validate, 5 supabase, 13 mem0-routed


def recall_requests(seed: int):
    """MCP requests in blocks of 20 with fixed shares, shuffled per block:
    2 ``validate_branch`` (10%), 5 searches with ``provider_override=
    "supabase"`` (25%), 13 default-routed searches. Queries are 1-6 vocabulary
    terms; about half repeat an earlier query."""
    rng = random.Random(seed)
    seen: list[str] = []
    while True:
        kinds = ["validate"] * 2 + ["supabase"] * 5 + ["mem0"] * 13
        rng.shuffle(kinds)
        for kind in kinds:
            if kind == "validate":
                yield {"op": "validate_branch", "scenario_id": rng.choice(SCENARIO_IDS)}
                continue
            if seen and rng.random() < 0.5:
                query = rng.choice(seen)
            else:
                query = " ".join(rng.choice(VOCAB) for _ in range(rng.randint(1, 6)))
                seen.append(query)
            yield {
                "op": "recall_search",
                "query": query,
                "mode": rng.choice(["fast", "accurate", "conversation"]),
                "top_k": rng.choice([3, 5, 10]),
                "provider_override": "supabase" if kind == "supabase" else None,
            }


def query_passes(seed: int, names: list[str]):
    """Whole passes over ``names``, each in a seed-shuffled order."""
    rng = random.Random(seed)
    while True:
        order = list(names)
        rng.shuffle(order)
        yield order


DELTA_APPEND_ROWS = 2000
DELTA_MERGE_ROWS = 400
DELTA_DELETE_SPAN = 300
DELTA_CHANGES_SPAN = 3  # versions per change-feed read
# One cycle, in this order every time: writes beside reads, five commits.
# With the engine's checkpoint interval of five, every cycle's second append
# writes the checkpoint. The seed picks the rows, keys, ranges and versions,
# not the order: the order decides how many files each op touches, and with
# it the cost of the cycle.
DELTA_CYCLE = ["append", "read_latest", "merge", "read_version", "delete", "append",
               "read_changes", "optimize"]


class DeltaModel:
    """Independent model of the keyed Delta table: key -> q. Tracks the
    row count and ``sum(q)`` of every version, so reads at any version and
    change-feed ranges can be checked."""

    def __init__(self):
        self.rows: dict[int, int] = {}
        self.by_version: dict[int, tuple[int, int]] = {}

    def record(self, version: int) -> None:
        self.by_version[version] = (len(self.rows), sum(self.rows.values()))

    def digest(self) -> str:
        h = hashlib.sha256()
        for k in sorted(self.rows):
            h.update(k.to_bytes(8, "little", signed=True))
        return h.hexdigest()


def delta_ops(seed: int, model: DeltaModel):
    """Yields whole cycles of ops. The first cycle is one append that
    creates the table. Every later cycle is ``DELTA_CYCLE``: appends of
    2,000 fresh keyed rows, a merge-upsert of 400 rows (half existing keys, half new), a
    key-range delete, an optimize, a read of the latest snapshot, a read
    of a random earlier version and a read of the change feed over the
    last three versions. A cycle is drawn from the model as it stands when it starts."""
    rng = random.Random(seed)
    next_key = DELTA_APPEND_ROWS
    yield [{"op": "append", "rows": [(k, rng.randrange(1000)) for k in range(next_key)]}]
    while True:
        versions = sorted(model.by_version)
        ops = []
        for kind in DELTA_CYCLE:
            if kind == "append":
                keys = range(next_key, next_key + DELTA_APPEND_ROWS)
                next_key += DELTA_APPEND_ROWS
                ops.append({"op": kind, "rows": [(k, rng.randrange(1000)) for k in keys]})
            elif kind == "merge":
                old = rng.sample(sorted(model.rows), min(len(model.rows), DELTA_MERGE_ROWS // 2))
                new = range(next_key, next_key + DELTA_MERGE_ROWS - len(old))
                next_key += len(new)
                ops.append({"op": kind, "rows": [(k, rng.randrange(1000)) for k in [*old, *new]]})
            elif kind == "delete":
                lo = rng.randrange(max(1, next_key - DELTA_DELETE_SPAN))
                ops.append({"op": kind, "lo": lo, "hi": lo + DELTA_DELETE_SPAN})
            elif kind == "read_version":
                ops.append({"op": kind, "version": rng.choice(versions)})
            elif kind == "read_changes":
                lo = max(versions[0], versions[-1] - DELTA_CHANGES_SPAN)
                ops.append({"op": kind, "from": lo, "to": versions[-1]})
            else:
                ops.append({"op": kind})
        yield ops


def apply_write(model: DeltaModel, op: dict) -> None:
    """Mirror a committed write op in the model."""
    if op["op"] in ("append", "merge"):
        for k, q in op["rows"]:
            model.rows[k] = q
    elif op["op"] == "delete":
        for k in [k for k in model.rows if op["lo"] <= k < op["hi"]]:
            del model.rows[k]
