"""Seeded input generator and reference results for the benchmark.

Everything here is computed with numpy, pyarrow and DuckDB only — never
with ``transferia_spark`` — so the reference cannot inherit a bug from
the program under test. The same seed always yields the same inputs.

Table state is kept columnar: every payload column is a typed numpy
array indexed by key plus a null mask. String columns are stored as
integer codes and rendered as ``"v<code>"`` only when inputs are
written, which keeps the reference state small.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

KEY = "id"
NULL_SHARE = 0.02

# ---------------------------------------------------------------- columns


@dataclass(frozen=True)
class Col:
    name: str
    kind: str  # long | int | double | string | boolean

    @property
    def arrow(self) -> pa.DataType:
        return {
            "long": pa.int64(), "int": pa.int32(), "double": pa.float64(),
            "string": pa.string(), "boolean": pa.bool_(),
        }[self.kind]


def ddl(cols: list[Col]) -> str:
    return ", ".join(f"{c.name} {c.kind}" for c in cols)


def _draw(rng: np.random.Generator, kind: str, n: int) -> np.ndarray:
    if kind in ("long", "string"):
        return rng.integers(0, 1_000_000_000, n, dtype=np.int64)
    if kind == "int":
        return rng.integers(-50_000, 50_000, n, dtype=np.int64)
    if kind == "double":
        return np.round(rng.normal(0.0, 1000.0, n), 3)
    return (rng.random(n) < 0.5).astype(np.int64)


def _arrow_column(col: Col, vals: np.ndarray, nul: np.ndarray) -> pa.Array:
    mask = pa.array(nul, pa.bool_())
    if col.kind == "string":
        digits = pa.array(vals, pa.int64()).cast(pa.string())
        text = pc.binary_join_element_wise("v", digits, "")
        return pc.if_else(mask, pa.nulls(len(vals), pa.string()), text)
    if col.kind == "boolean":
        return pa.array(vals.astype(bool), pa.bool_(), mask=nul)
    return pa.array(vals, col.arrow, mask=nul)


def _py(col: Col, v, is_null: bool):
    if is_null:
        return None
    if col.kind == "string":
        return f"v{int(v)}"
    if col.kind == "boolean":
        return bool(v)
    if col.kind == "double":
        return float(v)
    return int(v)


# ------------------------------------------------------------ table state


class TableState:
    """Reference key→row state of a keyed table (keys are 0..capacity-1)."""

    def __init__(self, cols: list[Col], capacity: int):
        self.cols = cols
        self.live = np.zeros(capacity, dtype=bool)
        self.vals = {c.name: np.zeros(capacity, dtype=np.float64 if c.kind == "double" else np.int64) for c in cols}
        self.nul = {c.name: np.zeros(capacity, dtype=bool) for c in cols}

    def seed(self, rng: np.random.Generator, n: int) -> None:
        self.live[:n] = True
        for c in self.cols:
            self.vals[c.name][:n] = _draw(rng, c.kind, n)
            self.nul[c.name][:n] = rng.random(n) < NULL_SHARE

    def arrow(self) -> pa.Table:
        ks = np.flatnonzero(self.live)
        arrays = [pa.array(ks, pa.int64())]
        arrays += [
            _arrow_column(c, self.vals[c.name][ks], self.nul[c.name][ks])
            for c in self.cols
        ]
        return pa.table(arrays, names=[KEY] + [c.name for c in self.cols])

    def row(self, k: int) -> dict | None:
        if not self.live[k]:
            return None
        out = {KEY: int(k)}
        for c in self.cols:
            out[c.name] = _py(c, self.vals[c.name][k], self.nul[c.name][k])
        return out

    def apply(self, ev: "Events") -> None:
        """Apply a batch in (lsn) order: per column the last event that
        carries it wins; liveness follows each key's last event."""
        if not len(ev.keys):
            return
        last = _last_index(ev.keys, np.ones(len(ev.keys), dtype=bool))
        self.live[ev.keys[last]] = ev.ops[last] != OP_D
        for j, c in enumerate(self.cols):
            idx = _last_index(ev.keys, ev.present[:, j])
            k = ev.keys[idx]
            self.vals[c.name][k] = ev.vals[c.name][idx]
            self.nul[c.name][k] = ev.nul[c.name][idx]


def _last_index(keys: np.ndarray, mask: np.ndarray) -> np.ndarray:
    idx = np.flatnonzero(mask)
    if not len(idx):
        return idx
    rev = idx[::-1]
    _, first = np.unique(keys[rev], return_index=True)
    return rev[first]


# ----------------------------------------------------------------- events

OP_I, OP_U, OP_D = 0, 1, 2


@dataclass
class Events:
    """A columnar batch of row changes, in lsn order. A primary-key
    change is stored as its delete(old)+insert(new) pair sharing one
    lsn: ``old_keys`` is -2 on the delete half and holds the old key on
    the insert half."""

    keys: np.ndarray
    ops: np.ndarray
    partial: np.ndarray  # True: update carrying a column subset
    present: np.ndarray  # [event, column] carried flags
    old_keys: np.ndarray  # -1 unless part of a primary-key change
    lsns: np.ndarray
    vals: dict = field(default_factory=dict)
    nul: dict = field(default_factory=dict)


class ChangeGen:
    """Draws valid change events against a live key set: updates and
    deletes only hit live keys, inserts only absent ones, so every event
    has one meaning in both the engine and the reference."""

    def __init__(self, rng: np.random.Generator, state: TableState, n_live: int, capacity: int):
        self.rng = rng
        self.state = state
        self.cols = state.cols
        self.next_key = n_live
        self.capacity = capacity
        self.lsn = 0

    def fresh_key(self) -> int:
        k = self.next_key
        if k >= self.capacity:
            raise RuntimeError("generator key space exhausted")
        self.next_key += 1
        return k

    def batch(self, picks: np.ndarray, p_delete: float, p_insert: float,
              p_pk_change: float, p_partial: float) -> Events:
        """One batch of ``len(picks)`` events. ``picks`` proposes the key
        for each event; a proposal that is not live becomes an insert."""
        rng, live = self.rng, self.state.live
        n, ncol = len(picks), len(self.cols)
        r = rng.random(n)
        keys, ops, olds, partial = [], [], [], []
        overlay: dict[int, bool] = {}
        for i in range(n):
            k = int(picks[i])
            alive = overlay.get(k, bool(live[k]))
            x = r[i]
            if not alive:
                keys.append(k); ops.append(OP_I); olds.append(-1); partial.append(False)
                overlay[k] = True
            elif x < p_insert:
                nk = self.fresh_key()
                keys.append(nk); ops.append(OP_I); olds.append(-1); partial.append(False)
                overlay[nk] = True
            elif x < p_insert + p_delete:
                keys.append(k); ops.append(OP_D); olds.append(-1); partial.append(False)
                overlay[k] = False
            elif x < p_insert + p_delete + p_pk_change:
                nk = self.fresh_key()
                # delete(old) + insert(new) under one source event
                keys += [k, nk]; ops += [OP_D, OP_I]; olds += [-2, k]; partial += [False, False]
                overlay[k] = False
                overlay[nk] = True
            else:
                keys.append(k); ops.append(OP_U); olds.append(-1)
                partial.append(bool(rng.random() < p_partial))
        m = len(keys)
        ev = Events(
            keys=np.array(keys, dtype=np.int64),
            ops=np.array(ops, dtype=np.int8),
            partial=np.array(partial, dtype=bool),
            present=np.ones((m, ncol), dtype=bool),
            old_keys=np.array(olds, dtype=np.int64),
            lsns=np.zeros(m, dtype=np.int64),
        )
        for j in np.flatnonzero(ev.partial):
            # a partial update carries 3..6 of the payload columns
            take = rng.choice(ncol, size=int(rng.integers(3, 7)), replace=False)
            ev.present[j] = False
            ev.present[j, take] = True
        deletes = ev.ops == OP_D
        for c in self.cols:
            ev.vals[c.name] = _draw(rng, c.kind, m)
            nul = rng.random(m) < NULL_SHARE
            nul[deletes] = True  # a delete clears the row
            ev.nul[c.name] = nul
        # one lsn per source event; the pk-change pair shares its lsn
        step = (ev.old_keys != -2).astype(np.int64)
        ev.lsns = self.lsn + np.cumsum(np.concatenate([[1], step[:-1]]))
        self.lsn = int(ev.lsns[-1]) if m else self.lsn
        self.state.apply(ev)
        return ev


# ------------------------------------------------------------ renderings


def wal2json_lines(ev: Events, cols: list[Col]) -> list[str]:
    """wal2json v2 lines (one event per line; partial updates carry a
    column subset, key moves carry the old key in ``identity``)."""
    lines = []
    vals = {c.name: ev.vals[c.name] for c in cols}
    nul = {c.name: ev.nul[c.name] for c in cols}
    head = {"schema": "public", "table": "bench"}
    for i in range(len(ev.keys)):
        op, k, old = int(ev.ops[i]), int(ev.keys[i]), int(ev.old_keys[i])
        lsn = int(ev.lsns[i])
        if old == -2:
            continue  # delete half of a key move: rendered with its insert
        if op == OP_D:
            lines.append(json.dumps({"action": "D", **head, "lsn": lsn, "identity": [{"name": KEY, "value": k}]}))
            continue
        columns = [{"name": KEY, "value": k}] + [
            {"name": c.name, "value": _py(c, vals[c.name][i], nul[c.name][i])}
            for j, c in enumerate(cols)
            if ev.present[i, j]
        ]
        if op == OP_I and old < 0:
            lines.append(json.dumps({"action": "I", **head, "lsn": lsn, "columns": columns}))
        else:
            ident = old if old >= 0 else k
            lines.append(json.dumps({
                "action": "U", **head, "lsn": lsn, "columns": columns,
                "identity": [{"name": KEY, "value": ident}],
            }))
    return lines


def compare_tables(actual: pa.Table, expected: pa.Table) -> list[str]:
    """Exact key→row equality; returns human-readable mismatches."""
    names = expected.column_names
    missing = [n for n in names if n not in actual.column_names]
    if missing:
        return [f"missing columns {missing}"]
    actual = actual.select(names).sort_by(KEY)
    expected = expected.sort_by(KEY)
    if actual.num_rows != expected.num_rows:
        return [f"row count {actual.num_rows} != expected {expected.num_rows}"]
    out = []
    for n in names:
        a = actual.column(n)
        e = expected.column(n).cast(a.type)
        if not a.equals(e):
            diff = pc.invert(pc.fill_null(pc.equal(a, e), False))
            both_null = pc.and_(pc.is_null(a), pc.is_null(e))
            bad = pc.sum(pc.and_(diff, pc.invert(both_null))).as_py() or 0
            if bad:
                out.append(f"column {n}: {bad} rows differ")
    return out


# ----------------------------------------------------- workload: snapshot

SNAP_SALT = "bench"
SNAP_FILTER = "qty > 1"
SNAP_MASK = ["email"]
SNAP_RENAME = {"events": "sales"}
SNAP_TO_STRING = ["created", "region", "signup"]


def gen_snapshot(rng: np.random.Generator, out_dir: str, n_fact: int) -> dict:
    """Source parquet: a mixed-type fact table plus a mid-size and a
    small table; all share ``id``, ``qty`` and ``email`` so the chain
    applies to every table."""
    os.makedirs(out_dir, exist_ok=True)
    sizes = {"events": n_fact, "customers": max(1000, n_fact // 10), "regions": 200}
    for name, n in sizes.items():
        base = {
            "id": pa.array(np.arange(n, dtype=np.int64)),
            "qty": pa.array(rng.integers(0, 10, n, dtype=np.int32)),
            "email": pc.binary_join_element_wise(
                "u", pa.array(rng.integers(0, n * 4, n)).cast(pa.string()), "@example.com", ""
            ),
        }
        if name == "events":
            ts = 1_700_000_000 + rng.integers(0, 30_000_000, n)
            base |= {
                "price": pa.array(np.round(rng.gamma(2.0, 40.0, n), 2), mask=rng.random(n) < 0.01),
                "status": pa.array(np.array(["new", "paid", "shipped", "returned", "void"])[rng.integers(0, 5, n)]),
                "created": pa.array(ts * 1_000_000, pa.timestamp("us")),
                "region": pa.array(rng.integers(0, 200, n, dtype=np.int32)),
                "flag": pa.array(rng.random(n) < 0.3),
                "note": pc.binary_join_element_wise(
                    "n", pa.array(rng.integers(0, 1 << 40, n)).cast(pa.string()), ""
                ),
            }
        elif name == "customers":
            base |= {
                "name": pc.binary_join_element_wise("c", pa.array(rng.integers(0, 1 << 30, n)).cast(pa.string()), ""),
                "balance": pa.array(np.round(rng.normal(100, 50, n), 2)),
                "signup": pa.array((18_000 + rng.integers(0, 2_000, n)).astype(np.int32), pa.int32()).cast(pa.date32()),
            }
        else:
            base |= {"label": pa.array([f"region-{i}" for i in range(n)])}
        tbl = pa.table(base)
        # several row groups so a local scan splits across cores
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"), row_group_size=max(1, n // 8))
    return {"path": out_dir, "tables": list(sizes), "rows": int(sum(sizes.values()))}


def snapshot_expected(src_dir: str, tables: list[str]) -> dict:
    """Reference output of the chain, computed by DuckDB: per output
    table the row count and an order-independent checksum per column."""
    import duckdb

    con = duckdb.connect()
    out = {}
    for t in tables:
        path = os.path.join(src_dir, f"{t}.parquet")
        cols = [r[0] for r in con.execute(f"DESCRIBE SELECT * FROM read_parquet('{path}')").fetchall()]
        sql = _snapshot_sql(path, cols)
        out[SNAP_RENAME.get(t, t)] = table_checksums(con, sql) | {
            "qty_sum": int(con.execute(f"SELECT sum(qty) FROM ({sql})").fetchone()[0]),
        }
    con.close()
    return out


def _snapshot_sql(path: str, cols: list[str]) -> str:
    """The transformation chain in SQL: filter, salted sha256 mask,
    rename (by the caller) and cast-to-string."""
    exprs = []
    for c in cols:
        if c in SNAP_MASK:
            exprs.append(f"sha256('{SNAP_SALT}' || CAST({c} AS VARCHAR)) AS {c}")
        elif c == "created":
            exprs.append(f"strftime({c}, '%Y-%m-%d %H:%M:%S') AS {c}")
        elif c in SNAP_TO_STRING:
            exprs.append(f"CAST({c} AS VARCHAR) AS {c}")
        else:
            exprs.append(c)
    return f"SELECT {', '.join(exprs)} FROM read_parquet('{path}') WHERE {SNAP_FILTER}"


def snapshot_rows(src_dir: str, table: str, keys: list[int]) -> dict[int, dict]:
    """Expected output rows of ``table`` for a few ids (DuckDB)."""
    import duckdb

    con = duckdb.connect()
    path = os.path.join(src_dir, f"{table}.parquet")
    cols = [r[0] for r in con.execute(f"DESCRIBE SELECT * FROM read_parquet('{path}')").fetchall()]
    sql = _snapshot_sql(path, cols) + f" AND id IN ({', '.join(map(str, keys))})"
    cur = con.execute(sql)
    names = [d[0] for d in cur.description]
    out = {int(r[0]): dict(zip(names, r)) for r in cur.fetchall()}
    con.close()
    return out


def table_checksums(con, relation_sql: str) -> dict:
    """Row count plus ``sum(hash(col))`` per column (order-independent)."""
    cols = [r[0] for r in con.execute(f"DESCRIBE {relation_sql}").fetchall()]
    sums = ", ".join(f"sum(hash({c})::HUGEINT)::VARCHAR" for c in cols)
    row = con.execute(f"SELECT count(*), {sums} FROM ({relation_sql})").fetchone()
    return {"rows": int(row[0]), "sums": dict(zip(cols, row[1:]))}


# ---------------------------------------------------------- workload: cdc

CDC_COLS = (
    [Col(f"l{i}", "long") for i in range(1, 5)]
    + [Col(f"d{i}", "double") for i in range(1, 5)]
    + [Col(f"s{i}", "string") for i in range(1, 6)]
    + [Col(f"b{i}", "boolean") for i in range(1, 3)]
)


@dataclass
class CdcRound:
    phase_a: list[tuple[str, int, int]]  # (staged file, first lsn, last lsn)
    backlog: list[str]  # files landed together after phase A
    backlog_events: int
    end_lsn: int


@dataclass
class CdcInputs:
    seed_path: str
    warm: list[tuple[str, int]]  # (file, last lsn), landed in groups in set-up
    warm_end: int
    rounds: list[CdcRound]
    final_lsn: int
    expected: pa.Table
    lookups: list[tuple[int, dict | None]]


def gen_cdc(rng: np.random.Generator, out_dir: str, n_seed: int, warm_events: list[int],
            rounds: int, files_a: int, events_per_file: int, n_backlog: int, backlog_file_events: int,
            n_lookups: int) -> CdcInputs:
    """Seed table + wal2json files: warm-up files of ``warm_events``
    events each, then per round the open-loop files of phase A (staged, moved
    in on schedule) and a backlog of ``n_backlog`` events in files of
    ``backlog_file_events``."""
    os.makedirs(out_dir, exist_ok=True)
    total = sum(warm_events) + rounds * (files_a * events_per_file + n_backlog)
    cap = n_seed + total * 2 + 16
    state = TableState(CDC_COLS, cap)
    state.seed(rng, n_seed)
    seed_path = os.path.join(out_dir, "seed.parquet")
    pq.write_table(state.arrow(), seed_path)
    gen = ChangeGen(rng, state, n_seed, cap)
    mix = dict(p_delete=0.10, p_insert=0.12, p_pk_change=0.03, p_partial=0.5)

    def draw(n: int) -> Events:
        live = np.flatnonzero(state.live[: gen.next_key])
        return gen.batch(rng.choice(live, size=n), **mix)

    def write(name: str, ev: Events) -> str:
        path = os.path.join(out_dir, name)
        with open(path, "w") as f:
            f.write("\n".join(wal2json_lines(ev, CDC_COLS)) + "\n")
        return path

    warm = []
    for i, n in enumerate(warm_events):
        warm.append((write(f"warm{i:02d}.jsonl", draw(n)), gen.lsn))
    warm_end = gen.lsn
    # names sort in lsn order, as the WAL source reads them
    out = []
    for r in range(rounds):
        phase_a = []
        for i in range(files_a):
            first = gen.lsn + 1
            phase_a.append((write(f"r{r}a{i:03d}.jsonl", draw(events_per_file)), first, gen.lsn))
        start_b = gen.lsn
        backlog = [
            write(f"r{r}b{i:03d}.jsonl", draw(min(backlog_file_events, n_backlog - done)))
            for i, done in enumerate(range(0, n_backlog, backlog_file_events))
        ]
        out.append(CdcRound(phase_a, backlog, gen.lsn - start_b, gen.lsn))
    keys = rng.choice(gen.next_key, size=n_lookups, replace=False)
    return CdcInputs(
        seed_path=seed_path, warm=warm, warm_end=warm_end, rounds=out,
        final_lsn=gen.lsn, expected=state.arrow(),
        lookups=[(int(k), state.row(int(k))) for k in keys],
    )
