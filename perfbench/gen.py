"""Seeded input generators for the benchmark.

Everything a workload feeds the program comes from here: the source
tables, the extraction plan files, the synthetic ledger history, the
catalog query order and the ACID op script.  Expected results are
computed from the generated parquet with DuckDB, never with the engine
under test.  The same ``seed`` always yields byte-identical files.
"""

from __future__ import annotations

import json
import random
import shutil
from datetime import datetime, timedelta
from pathlib import Path

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: row counts per table, shaped like the repository's sf0.01 test data
TABLE_ROWS = {
    "region": 5,
    "nation": 25,
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "lineitem": 60000,
    "events": 10000,
    "documents": 500,
    "embeddings": 500,
}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
COLORS = ["blue", "red", "green", "hot", "large", "small", "dark", "light",
          "pale", "bright", "cool", "warm", "plain"]
NOUNS = ["ring", "bolt", "anvil", "widget", "gear"]
WORDS = ("a the data spark query table row column key value join group agg "
         "sort hash scan filter window stream batch merge part line order "
         "customer vector fast slow big small").split()
LANGS = ["en", "de", "fr", "es", "zh"]

ORDER_DAY0 = datetime(1995, 1, 1)
ORDER_DAYS = 2404  # 1995-01-01 .. 2001-08-01
EVENT_T0 = datetime(2024, 1, 1)
EVENT_SECONDS = 30 * 86400


def _ts(base: datetime, offsets, unit: str) -> pa.Array:
    us = np.asarray(offsets, dtype=np.int64) * (86_400_000_000 if unit == "d" else 1)
    epoch = int((base - datetime(1970, 1, 1)).total_seconds()) * 1_000_000
    return pa.array(epoch + us, type=pa.timestamp("us"))


def _write(table: pa.Table, path: Path) -> None:
    path.parent.mkdir(parents=True, exist_ok=True)
    pq.write_table(table, str(path), compression="snappy")


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i >= 10 and r < 0.05:  # planted exact duplicate
            texts.append(texts[int(rng.integers(0, i))])
        elif i >= 10 and r < 0.10:  # planted near duplicate
            words = texts[int(rng.integers(0, i))].split(" ")
            j = int(rng.integers(0, len(words)))
            words[j] = WORDS[int(rng.integers(0, len(WORDS)))]
            texts.append(" ".join(words))
        else:
            k = int(rng.integers(10, 90))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), k)))
    lang_p = np.array([0.44, 0.14, 0.14, 0.14, 0.14])
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([LANGS[j] for j in rng.choice(5, n, p=lang_p)]),
        "source": pa.array([f"src{j}" for j in rng.integers(0, 20, n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator, n: int, dims: int = 64) -> pa.Table:
    centers = rng.normal(size=(10, dims))
    labels = rng.integers(0, 10, n)
    vecs = centers[labels] + rng.normal(scale=1.2, size=(n, dims))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def gen_tables(out_dir: Path, seed: int) -> dict[str, Path]:
    """Write the ten source tables as ``{out_dir}/{table}.parquet``."""
    rng = np.random.default_rng([seed, 1])
    n = TABLE_ROWS
    nc, ns, npart, no = n["customer"], n["supplier"], n["part"], n["orders"]
    money = lambda lo, hi, k: np.round(rng.uniform(lo, hi, k), 2)  # noqa: E731
    pick = lambda vals, k: pa.array([vals[j] for j in rng.integers(0, len(vals), k)])  # noqa: E731
    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": pa.array(REGIONS),
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(nc), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
            "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
            "c_acctbal": pa.array(money(-999.99, 9999.99, nc)),
            "c_mktsegment": pick(SEGMENTS, nc),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(ns), pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
            "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
            "s_acctbal": pa.array(money(-999.99, 9999.99, ns)),
        }),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(npart), pa.int64()),
            "p_name": pa.array([f"{COLORS[a]} {NOUNS[b]}" for a, b in zip(
                rng.integers(0, len(COLORS), npart), rng.integers(0, len(NOUNS), npart))]),
            "p_brand": pa.array([f"Brand#{j}" for j in rng.integers(1, 26, npart)]),
            "p_type": pick(PART_TYPES, npart),
            "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
            "p_retailprice": pa.array(np.round(900 + (np.arange(npart) % 1000) / 10, 2)),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(no), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
            "o_orderstatus": pick(["F", "O", "P"], no),
            "o_totalprice": pa.array(money(1000, 500000, no)),
            "o_orderdate": _ts(ORDER_DAY0, rng.integers(0, ORDER_DAYS + 1, no), "d"),
            "o_orderpriority": pick(PRIORITIES, no),
        }),
    }
    nl = n["lineitem"]
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, nl).astype(np.float64)),
        "l_extendedprice": pa.array(money(900, 105000, nl)),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
        "l_returnflag": pick(["A", "N", "R"], nl),
        "l_linestatus": pick(["F", "O"], nl),
        "l_shipdate": _ts(ORDER_DAY0, rng.integers(1, ORDER_DAYS + 95, nl), "d"),
    })
    ne = n["events"]
    secs = np.sort(rng.integers(0, EVENT_SECONDS * 1_000_000, ne))
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": _ts(EVENT_T0, secs, "us"),
        "user_id": pa.array(rng.integers(0, 150, ne), pa.int64()),
        "event_type": pick(EVENT_TYPES, ne),
        "value": pa.array(np.round(rng.exponential(40.0, ne), 2)),
        "props": pa.array([f'{{"k": {j}}}' for j in rng.integers(0, 100, ne)]),
    })
    tables["documents"] = _documents(rng, n["documents"])
    tables["embeddings"] = _embeddings(rng, n["embeddings"])
    paths = {}
    for name, t in tables.items():
        paths[name] = out_dir / f"{name}.parquet"
        _write(t, paths[name])
    return paths


def _duck(data_dir: Path, tables: list[str]) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    for t in tables:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir / (t + '.parquet')}')"
        )
    return con


# ---- extract_plans --------------------------------------------------------

#: table -> (key column, S3 partitioning scheme, S3 partition column)
EXTRACT_TABLES = {
    "orders": ("o_orderkey", "temporal", "o_orderdate"),
    "events": ("event_id", "temporal", "ts"),
    "customer": ("c_custkey", "categorical", "c_mktsegment"),
    "lineitem": ("l_orderkey", "none", " "),
}
#: S3 partitioning scheme -> SourceName (part of the target path and table)
SCHEMES = {"temporal": "iqtemporal", "categorical": "iqcategory", "none": "iqflat"}
#: each block lands one plan per table, as (parts, NumPartitions)
BLOCK_PLANS = {"orders": (2, 4), "events": (3, 1), "customer": (1, 3), "lineitem": (2, 2)}
LEDGER_HISTORY_ROWS = 10_000


def _slice_predicate(rng: random.Random, table: str, n_keys: int):
    """(T-SQL predicate for the plan, DuckDB predicate for the oracle).

    Fixed-size slices: 1/20 of the key range, 14 days of orders, or 24
    hours of events starting off midnight (two day directories)."""
    key, scheme, tcol = EXTRACT_TABLES[table]
    if scheme == "temporal":
        if table == "events":
            lo = EVENT_T0 + timedelta(days=rng.randrange(0, 28), hours=rng.randrange(1, 24))
            hi = lo + timedelta(hours=24)
            fmt = "%Y-%m-%d %H:%M:%S"
        else:
            lo = ORDER_DAY0 + timedelta(days=rng.randrange(0, ORDER_DAYS - 14))
            hi = lo + timedelta(days=14)
            fmt = "%Y-%m-%d"
        lo, hi = lo.strftime(fmt), hi.strftime(fmt)
        return (
            f"[{tcol}] >= '{lo}' AND [{tcol}] < '{hi}'",
            f"{tcol} >= TIMESTAMP '{lo}' AND {tcol} < TIMESTAMP '{hi}'",
        )
    width = n_keys // 20
    lo = rng.randrange(0, n_keys - width)
    return (
        f"[{key}] >= {lo} AND [{key}] < {lo + width}",
        f"{key} >= {lo} AND {key} < {lo + width}",
    )


def _ledger_history(rng: random.Random, n: int) -> list[str]:
    lines = []
    tables = list(EXTRACT_TABLES)
    while len(lines) < n:
        h = "%032x" % rng.getrandbits(128)
        t = rng.choice(tables)
        lines.append(json.dumps({
            "_op": "put", "ExecutionHashId": h, "SourceTable": t,
            "MigrationPart": 1, "Query": f"SELECT * FROM iqdemo.dba.{t}",
            "LambdaCallTimestamp": "2024-01-01 00:00:00",
            "GlueJobFinalStatus": None, "_event_ts": "2024-01-01T00:00:00+00:00",
        }))
        lines.append(json.dumps({
            "_op": "update", "ExecutionHashId": h, "SourceTable": t,
            "GlueJobFinalStatus": rng.choice(["SUCCEEDED", "SUCCEEDED", "FAILED"]),
            "GlueAmountOfRecords": rng.randrange(0, 10_000),
            "_event_ts": "2024-01-01T00:05:00+00:00",
        }))
    return lines[:n]


def gen_extract(data_dir: Path, out_dir: Path, seed: int, n_blocks: int = 8) -> dict:
    """Plan files, ledger history and the op script for ``extract_plans``.

    The script is a list of blocks with the same work each: the four
    ``BLOCK_PLANS`` (sequential plans of 1-3 parts) in seeded order with
    seeded slices, one resubmission of an earlier plan of the block (the
    dedup gate must skip it), and an Athena-style read of each target
    right after its plan lands.  Ops are ``{"op":
    "dispatch", "plan", "target", "table", "resubmit", "jobs": [{"part",
    "query", "expected"}]}`` or ``{"op": "query", "target"}``;
    ``expected`` comes from DuckDB.
    """
    rng = random.Random(seed * 7919 + 11)
    con = _duck(data_dir, list(EXTRACT_TABLES))
    rows = {t: con.execute(f"SELECT count(*) FROM {t}").fetchone()[0] for t in EXTRACT_TABLES}
    keys = {t: con.execute(f"SELECT max({k}) + 1 FROM {t}").fetchone()[0]
            for t, (k, _, _) in EXTRACT_TABLES.items()}
    plan_dir = out_dir / "plans"
    plan_dir.mkdir(parents=True, exist_ok=True)
    seen: set[str] = set()
    blocks: list[list[dict]] = []
    for b in range(n_blocks):
        order = list(BLOCK_PLANS.items())
        rng.shuffle(order)
        slots: list[dict] = []
        for table, (n_jobs, num_partitions) in order:
            key, scheme, s3_col = EXTRACT_TABLES[table]
            jobs, spec = [], []
            for part in range(1, n_jobs + 1):
                while True:
                    tsql, duck = _slice_predicate(rng, table, keys[table])
                    query = f"SELECT * FROM iqdemo.dba.{table} WHERE {tsql}"
                    if query not in seen:
                        seen.add(query)
                        break
                expected = con.execute(f"SELECT count(*) FROM {table} WHERE {duck}").fetchone()[0]
                jobs.append({
                    "SourceTable": table, "Query": query, "MigrationPart": part,
                    "ExpectedAmountOfRecords": expected,
                    "NumPartitions": str(num_partitions),
                    "LowerBound": "0", "UpperBound": str(keys[table] - 1),
                    "ColumnForPartitioningOnSpark": key,
                    "ColumnForPartitioningOnS3": s3_col,
                })
                spec.append({"part": part, "query": query, "expected": expected})
            body = {
                "SourceName": SCHEMES[scheme], "SourceDatabase": "iqdemo",
                "SourceSchema": "dba", "Active": True,
                "SequentialMultipleParts": True, "WorkerType": "G.1X",
                "NumberOfWorkers": 3, "Jobs": jobs,
            }
            slots.append({"body": body, "resubmit": False, "table": table,
                          "target": f"{SCHEMES[scheme]}_{table}", "jobs": spec})
        at = rng.randrange(1, len(slots) + 1)
        slots.insert(at, dict(rng.choice(slots[:at]), resubmit=True))
        ops: list[dict] = []
        for i, slot in enumerate(slots):
            name = f"plan_{b:02d}_{i:02d}.json"
            (plan_dir / name).write_text(json.dumps(slot["body"], indent=2, sort_keys=True))
            ops.append({"op": "dispatch", "plan": name, **{k: slot[k] for k in (
                "target", "table", "resubmit", "jobs")}})
            if not slot["resubmit"]:
                ops.append({"op": "query", "target": slot["target"]})
        blocks.append(ops)
    (out_dir / "ledger_history.jsonl").write_text(
        "\n".join(_ledger_history(rng, LEDGER_HISTORY_ROWS)) + "\n"
    )
    bytes_per_row = {t: (data_dir / f"{t}.parquet").stat().st_size / rows[t] for t in EXTRACT_TABLES}
    meta = {"blocks": blocks, "bytes_per_row": bytes_per_row}
    (out_dir / "extract_script.json").write_text(json.dumps(meta, sort_keys=True))
    return meta


# ---- catalog_queries ------------------------------------------------------


def gen_catalog_order(out_dir: Path, seed: int, names: list[str], passes: int = 8) -> list[list[str]]:
    """One seeded permutation of ``names`` per pass."""
    rng = random.Random(seed * 104729 + 3)
    order = []
    for _ in range(passes):
        p = list(names)
        rng.shuffle(p)
        order.append(p)
    (out_dir / "catalog_order.json").write_text(json.dumps(order))
    return order


def oracle_counts(data_dir: Path, oracles: dict[str, str], names: list[str]) -> dict[str, int]:
    """Row count of each entry's DuckDB oracle over the generated tables."""
    con = _duck(data_dir, sorted(TABLE_ROWS))
    return {n: con.execute(f"SELECT count(*) FROM ({oracles[n]}) q").fetchone()[0]
            for n in names if n in oracles}


# ---- acid_mutations -------------------------------------------------------

ACID_BASE_ROWS = 12_000
#: op kind -> count per block; every block has the same mix
ACID_BLOCK = {
    "append": 1, "merge": 1, "delete": 1, "stream": 1, "compact": 1,
    "point": 2, "range": 2, "full": 1, "travel": 2,
}


def gen_acid(data_dir: Path, out_dir: Path, seed: int, n_blocks: int = 8) -> dict:
    """Base table, batch files and the op script for ``acid_mutations``.

    The script is a list of blocks, each a seeded order of the
    ``ACID_BLOCK`` mix.  New keys (appends, stream batches, merge
    inserts) are allocated above every key used so far, so each batch's
    keys are unique.  Batches are fixed-size (200 rows per file; merges
    update 100 base keys and insert 30) and deletes remove a 40-key
    range of the base, so seeds change which rows, not how much work.
    """
    rng = random.Random(seed * 15485863 + 5)
    orders = pq.read_table(str(data_dir / "orders.parquet"))
    base = orders.slice(0, ACID_BASE_ROWS)
    pool = orders.slice(ACID_BASE_ROWS)  # template rows for new keys
    _write(base, out_dir / "acid" / "base.parquet")
    next_key = orders.num_rows

    def batch(keys: list[int], name: str, salt: int) -> str:
        r = np.random.default_rng([seed, salt])
        idx = r.integers(0, pool.num_rows, len(keys))
        t = pool.take(pa.array(idx)).set_column(
            0, "o_orderkey", pa.array(keys, pa.int64())
        ).set_column(3, "o_totalprice", pa.array(np.round(r.uniform(1000, 500000, len(keys)), 2)))
        rel = f"acid/{name}.parquet"
        _write(t, out_dir / rel)
        return rel

    blocks = []
    n = 0
    for _ in range(n_blocks):
        kinds = [k for k, c in ACID_BLOCK.items() for _ in range(c)]
        rng.shuffle(kinds)
        ops = []
        for kind in kinds:
            n += 1
            if kind in ("append", "stream"):
                files = []
                for b in range(1 if kind == "append" else 2):
                    k = 200
                    files.append(batch(list(range(next_key, next_key + k)), f"{kind}_{n:04d}_{b}", 2 * n + b))
                    next_key += k
                ops.append({"op": kind, "files": files})
            elif kind == "merge":
                old = rng.sample(range(ACID_BASE_ROWS), 100)
                new = list(range(next_key, next_key + 30))
                next_key += len(new)
                ops.append({"op": "merge", "files": [batch(old + new, f"merge_{n:04d}", 2 * n)]})
            elif kind == "delete":
                lo = rng.randrange(0, ACID_BASE_ROWS - 40)
                ops.append({"op": "delete", "where": f"o_orderkey >= {lo} AND o_orderkey < {lo + 40}"})
            elif kind == "point":
                ops.append({"op": "point", "where": f"o_orderkey = {rng.randrange(0, next_key)}"})
            elif kind == "range":
                a, b = sorted(rng.sample(PRIORITIES, 2))
                ops.append({"op": "range", "where": f"o_orderpriority >= '{a}' AND o_orderpriority <= '{b}'"})
            elif kind == "travel":
                ops.append({"op": "travel", "back": rng.randint(1, 6)})
            else:
                ops.append({"op": kind})
        blocks.append(ops)
    meta = {"blocks": blocks, "base": "acid/base.parquet"}
    (out_dir / "acid_script.json").write_text(json.dumps(meta, sort_keys=True))
    return meta


def _acid_replayer(out_dir: Path, base: str):
    con = duckdb.connect()
    con.execute(f"CREATE TABLE t AS SELECT * FROM read_parquet('{out_dir / base}')")

    def apply(op: dict) -> None:
        files = [str(out_dir / f) for f in op.get("files", [])]
        if op["op"] in ("append", "stream"):
            for f in files:
                con.execute(f"INSERT INTO t SELECT * FROM read_parquet('{f}')")
        elif op["op"] == "merge":
            con.execute(f"DELETE FROM t WHERE o_orderkey IN (SELECT o_orderkey FROM read_parquet('{files[0]}'))")
            con.execute(f"INSERT INTO t SELECT * FROM read_parquet('{files[0]}')")
        elif op["op"] == "delete":
            con.execute(f"DELETE FROM t WHERE {op['where']}")

    return con, apply


ACID_AGG = "SELECT count(*), coalesce(sum(CAST(round(o_totalprice * 100) AS BIGINT)), 0) FROM t"


def replay_acid(out_dir: Path, base: str, ops: list[dict]) -> list[dict]:
    """DuckDB replay of the executed prefix of the op script.

    Returns, per op, the table state after it as ``{"rows", "cents"}``
    (``cents`` = sum of ``o_totalprice`` in integer cents) and, for each
    read op, the expected ``[rows, cents]`` of its result.
    """
    con, apply = _acid_replayer(out_dir, base)
    states = [list(con.execute(ACID_AGG).fetchone())]
    out = []
    for op in ops:
        apply(op)
        kind, expect = op["op"], None
        if kind in ("point", "range"):
            expect = list(con.execute(f"{ACID_AGG} WHERE {op['where']}").fetchone())
        elif kind == "full":
            expect = list(con.execute(ACID_AGG).fetchone())
        elif kind == "travel":
            expect = states[max(0, len(states) - 1 - op["back"])]
        states.append(list(con.execute(ACID_AGG).fetchone()))
        out.append({"state": states[-1], "expect": expect})
    return out


def acid_keys_at(out_dir: Path, base: str, ops: list[dict]) -> set[int]:
    """Key set of the replayed table after ``ops``."""
    con, apply = _acid_replayer(out_dir, base)
    for op in ops:
        apply(op)
    return {r[0] for r in con.execute("SELECT o_orderkey FROM t").fetchall()}


def fresh_dir(path: Path) -> Path:
    if path.exists():
        shutil.rmtree(path)
    path.mkdir(parents=True)
    return path
