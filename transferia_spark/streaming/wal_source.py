"""Recorded-CDC stream readers: one base, plus the PG slot (wal2json) format.

≈ ``pkg/providers/postgres/publisher_replication.go:75`` (``Run``: read
logical-replication slot → wal2json events → ChangeItems, ack LSN after
downstream push) in transferia/transferia. The reference speaks the
replication protocol in-process; the Spark-native equivalent is a
PySpark 4 ``DataSourceStreamReader`` whose offsets ARE the source
position — Spark's checkpointing then gives exactly the reference's ack
contract (``commit(offset)`` fires only after the micro-batch is
durably processed, ≈ ``publisher_replication.go:140``).

:class:`RecordedCdcStreamReader` is that source contract for a
directory of recorded JSON-line capture files (a tailer's output piped
to files — the transport the container can test), once for every
format: the common options, the ack-seeded durable floor,
``latestOffset`` over the planner scan cache, seek-hinted and
within-file split ``partitions``, the byte-offset read loop with
poison routing to the dead-letter directory, the arrow fast path and
the ``commit`` ack. A format supplies only its hooks (see the class
docstring); ``cdc_sources.py`` holds the MySQL-binlog and Mongo
change-stream formats.

This module's own format is wal2json v2 (public PostgreSQL plugin):
one JSON object per line, ``{"action": "I|U|D", "schema": s, "table":
t, "columns": [{name, value}...], "identity": [{name, value}...],
"lsn": n}``, read by :class:`WalJsonStreamReader`.

Emitted rows speak the full ChangeItem column contract
(``transferia_spark.cdc.changeitem``), so the stream plugs straight
into collapse → merge_batch / BucketedCdcApplySink: payload columns
per the declared schema, then ``_op`` (i/u/d), ``_lsn``, ``_counter`` (event
index within the transaction/LSN — the per-key tiebreak collapse
orders by), ``_table``, ``_before`` (typed pre-image struct of the
identity columns — the reference's OldKeys, what keys_changed /
normalize_pk_changes consume), and ``_present`` (the column names the
event actually carried — wal2json omits unchanged TOAST columns, and
this marker is how collapse distinguishes absent from NULL).
"""

from __future__ import annotations

import bisect
import contextlib
import json
import os
import re
from collections.abc import Callable, Iterator, Sequence

from pyspark.sql import types as T
from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)

from transferia_spark import durable

_ACTIONS = {"I": "i", "U": "u", "D": "d"}

# payload types pa.array converts from plain JSON-decoded values with
# the same strictness as the worker's per-cell converters — anything
# else (timestamps, decimals, nested payloads) keeps the tuple path
_ARROW_SAFE_TYPES = (
    T.LongType, T.IntegerType, T.ShortType, T.ByteType,
    T.DoubleType, T.FloatType, T.StringType, T.BooleanType,
    T.BinaryType,
)


def _arrow_read_plan(schema: T.StructType, payload_names):
    """(pyarrow schema, [(struct col index, field names), ...]) when a
    recorded-CDC reader may yield RecordBatches directly; None → row
    tuples. Gated on every payload type sitting in the arrow-safe set
    (``payload_names`` — the READER's own payload list, so the gate
    matches exactly what the tuples carry); struct meta columns
    (``_before``) ride as positional tuples in the rows and get
    dict-ified per the struct's own field names."""
    names = set(payload_names)
    payload = [f for f in schema.fields if f.name in names]
    if not all(isinstance(f.dataType, _ARROW_SAFE_TYPES) for f in payload):
        return None
    try:
        from pyspark.sql.pandas.types import to_arrow_schema

        struct_cols = [
            (i, [sf.name for sf in f.dataType.fields])
            for i, f in enumerate(schema.fields)
            if isinstance(f.dataType, T.StructType)
        ]
        return to_arrow_schema(schema), struct_cols
    except (ImportError, TypeError):  # no pandas/arrow; unmapped type
        return None


def _tuples_to_arrow(rows, plan, chunk: int):
    """Row tuples → pyarrow RecordBatches: zip-transpose a chunk and
    let pa.array convert whole columns (C-side) instead of the
    worker's per-cell converter calls (~1.9× on the decode plane,
    measured r13)."""
    import pyarrow as pa
    from itertools import islice

    pa_schema, struct_cols = plan
    it = iter(rows)
    while True:
        batch = list(islice(it, chunk))
        if not batch:
            return
        cols = list(zip(*batch))
        for idx, names in struct_cols:
            cols[idx] = [
                None if v is None
                else v if isinstance(v, dict)
                else dict(zip(names, v))
                for v in cols[idx]
            ]
        try:
            arrays = [
                pa.array(list(c), type=pa_schema.field(i).type)
                for i, c in enumerate(cols)
            ]
        except (pa.lib.ArrowInvalid, pa.lib.ArrowTypeError,
                OverflowError) as e:
            raise ValueError(
                "recorded-CDC arrow fast-path could not convert a "
                f"decoded column ({e}); the value does not fit its "
                "declared type — fix the schema, or set "
                "arrow_batches=false to use the per-row converter path"
            ) from e
        yield pa.RecordBatch.from_arrays(arrays, schema=pa_schema)


def arrow_option_fields(options: dict) -> tuple[bool, int]:
    """The shared (arrow_batches, arrow_chunk) option parse for the
    recorded-CDC readers."""
    on = str(options.get("arrow_batches", "true")).lower() in (
        "true", "1",
    )
    return on, max(256, int(options.get("arrow_chunk", 8192)))


def _reject_reserved_payload(payload_fields) -> None:
    """Reject payload columns named after engine-reserved ChangeItem
    names that are not part of THIS reader's meta tail — such a column
    would die later in collapse/merge/sinks with a confusing analysis
    error; loud at the source beats both that and a silent tuple-arity
    break (code-review r14)."""
    from transferia_spark.cdc.changeitem import RESERVED_NAMES

    bad = sorted(set(payload_fields) & RESERVED_NAMES)
    if bad:
        raise ValueError(
            f"payload column(s) {bad} use engine-reserved ChangeItem "
            "names — rename them in the declared schema"
        )


def wrap_arrow_read(reader, rows):
    """Reader-agnostic fast path: yield RecordBatches when the
    reader's schema plans (see ``_arrow_read_plan``), else the rows
    unchanged. ``RecordedCdcStreamReader.read()`` calls this around its
    tuple generator."""
    plan = (
        _arrow_read_plan(reader.schema, reader.payload_fields)
        if reader.arrow_batches
        else None
    )
    if plan is None:
        return rows
    return _tuples_to_arrow(rows, plan, reader.arrow_chunk)


def wal_output_schema(payload_ddl: str) -> T.StructType:
    st = T._parse_datatype_string(payload_ddl)
    before = T.StructType(
        [T.StructField(f.name, f.dataType, True) for f in st.fields]
    )
    return T.StructType(
        list(st.fields)
        + [
            T.StructField("_op", T.StringType(), False),
            T.StructField("_lsn", T.LongType(), False),
            T.StructField("_counter", T.IntegerType(), False),
            T.StructField("_table", T.StringType(), True),
            T.StructField("_before", before, True),
            T.StructField("_present", T.ArrayType(T.StringType()), True),
        ]
    )


class _FileSlice(InputPartition):
    """One read task: the lines of ``path`` whose position lies in
    ``(lo, hi]``; an empty ``path`` is the empty batch's partition."""

    def __init__(self, path: str, lo, hi,
                 start_byte: int = 0, ordered: bool = False):
        self.path = path
        self.lo = lo
        self.hi = hi
        # planner seek hints (r9): byte offset of the last sparse
        # checkpoint at-or-below lo, and whether the file is
        # position-ordered (enables early stop past hi) — read() is
        # then O(batch bytes) instead of re-decoding the file head
        # every micro-batch
        self.start_byte = start_byte
        self.ordered = ordered


# -- the recorded-directory contract ----------------------------------
#
# A recorded directory holds the numbered event files the readers below
# tail ({n:09d}.jsonl from the pg and mysql tailers, live_/oplog_
# {n:06d}.jsonl from the mongo drains) beside the writers' own state.
# A name starting with "_" or "." is never an event file (the Hadoop
# hidden-file rule): writers keep positions in "_" state files, and
# every file publishes through a hidden temp (``durable.publishing``).


def _scan_files(path: str) -> list[str]:
    try:
        names = sorted(os.listdir(path))
    except FileNotFoundError:
        return []
    return [
        os.path.join(path, n) for n in names
        if n.endswith((".json", ".jsonl")) and not n.startswith(("_", "."))
    ]


def _event_files(out_dir: str, prefix: str) -> dict[int, str]:
    """Published ``{prefix}<n>.jsonl`` event files by number."""
    return {
        int(n[len(prefix):-len(".jsonl")]): n
        for n in os.listdir(out_dir)
        if n.startswith(prefix) and n.endswith(".jsonl")
        and n[len(prefix):-len(".jsonl")].isdigit()
    }


def next_file_no(out_dir: str, prefix: str = "") -> int:
    """The number of the next ``{prefix}<n>.jsonl`` event file: one past
    the HIGHEST existing index, not the file count — prune_committed
    deletes low-numbered committed files, and a count would reuse (and
    clobber) a surviving file that holds uncommitted events."""
    return max(_event_files(out_dir, prefix), default=-1) + 1


def last_published_event(out_dir: str, prefix: str) -> dict | None:
    """The last event of the newest published ``{prefix}<n>.jsonl``
    file, or None (no file, or an unreadable tail). A writer that
    persists its resume position AFTER publishing reads this on start:
    after a crash between the two, the file is the further-along
    position."""
    files = _event_files(out_dir, prefix)
    tail = None
    try:  # max() of no files and json.loads(None) raise too
        with open(os.path.join(out_dir, files[max(files)])) as f:
            for line in f:
                tail = line if line.strip() else tail
        return json.loads(tail)
    except (OSError, ValueError, TypeError):
        return None


class _NoEvents(Exception):
    """Discards an event file that got no events (see event_file)."""


@contextlib.contextmanager
def event_file(out_dir: str, name: str):
    """Write one event file of a recorded directory: yields a handle
    on a hidden temp file (``durable.publishing``); on a clean exit a
    non-empty file publishes durably and an empty one is removed.
    Writers persist a position (slot ack, GTID set, resume token) only
    after this returns, so the position can never be durable before
    the events it covers."""
    with contextlib.suppress(_NoEvents):
        with durable.publishing(os.path.join(out_dir, name)) as out:
            yield out
            if out.tell() == 0:
                raise _NoEvents


def read_state(out_dir: str, name: str) -> str | None:
    """A writer's ``_``-prefixed state file, or None when absent."""
    try:
        with open(os.path.join(out_dir, name)) as f:
            return f.read()
    except FileNotFoundError:
        return None


def drain_new_captures(
    frames_path: str,
    out_dir: str,
    drain: Callable[[Iterator[bytes]], int],
) -> int:
    """Feed the capture files under ``frames_path`` (JSON lines of
    ``{"frame": "<hex>"}``) that no earlier pass drained to ``drain``,
    then remember them in ``out_dir/_drained.state`` — so repeated
    catch-up passes decode only NEW captures, as a live drain only sees
    new socket data. Returns what ``drain`` returns (0 when nothing is
    new)."""
    try:
        names = sorted(os.listdir(frames_path))
    except FileNotFoundError:
        return 0
    os.makedirs(out_dir, exist_ok=True)
    done = set(json.loads(read_state(out_dir, "_drained.state") or "[]"))
    fresh = [n for n in names if n.endswith((".json", ".jsonl"))
             and n not in done]
    if not fresh:
        return 0

    def frames():
        for name in fresh:
            with open(os.path.join(frames_path, name)) as f:
                for line in f:
                    if line.strip():
                        yield bytes.fromhex(json.loads(line)["frame"])

    n = drain(frames())
    durable.publish(
        os.path.join(out_dir, "_drained.state"),
        json.dumps(sorted(done | set(fresh))),
    )
    return n


def dead_letter_record(
    dl_dir: str, src_file: str, byte_pos: int, raw: str, err: BaseException,
    table: str | None = None,
) -> None:
    """Write one poison line to the dead-letter directory (≈ the
    reference's ``NewUnparsed`` rows landing in ``<table>_unparsed``,
    ``generic_parser.go:575``): a malformed event must not kill the
    transfer — the reference replicates on and surfaces the row.

    One file per (source file, byte offset) with an atomic replace, so batch
    REPLAYS (crash recovery, DDL abort-and-restart) re-record the same
    poison line idempotently instead of appending duplicates. Runs on
    executors — no shared state, no driver round-trip."""
    os.makedirs(dl_dir, exist_ok=True)
    base = os.path.basename(src_file)
    final = os.path.join(dl_dir, f"{base}.{byte_pos}.json")
    with durable.publishing(final) as fh:
        json.dump(
            {
                "table": table,
                "file": base,
                # the line's BYTE offset in the capture file (r9: seek
                # hints made ordinals seek-relative; a byte offset is
                # stable and seekable for inspection)
                "byte_pos": byte_pos,
                "unparsed_row": raw,
                "reason": f"{type(err).__name__}: {err}",
            },
            fh,
        )


class OffsetScanCache:
    """Planner-side per-file high-watermark cache for offset scans.

    ``latestOffset()`` runs on EVERY trigger; a naive implementation
    re-reads the whole recorded directory each time, which on a
    long-running stream grows O(total bytes) per trigger — the
    planning cost itself becomes the bottleneck. The tailer contract
    is append-only files (a file, once fully written, never changes),
    so caching each file's (size, max position) lets planning skip any
    size-stable file whose maximum position is at or below the current
    floor — per trigger only the recent tail is re-read, O(new data)
    like the reference's slot cursor. A size change (partial capture
    re-grown) invalidates the entry and the file is re-scanned.
    """

    def __init__(self):
        # file -> (size, max position, SORTED positions list). The
        # positions list makes re-planning O(log n) instead of
        # re-decoding the file: the tailer contract is
        # immutable-once-visible files, so one decode per file EVER —
        # every later trigger answers from the cached list (r9: the
        # per-trigger latestOffset re-decode of the newest backlog file
        # was ~15% of steady-state micro-batch latency)
        self._hw: dict[str, tuple[int, object, list]] = {}

    def pending(self, files, floor, positions_of_file):
        """Positions strictly above ``floor`` across ``files``;
        ``positions_of_file(f)`` yields a file's (poison-filtered)
        positions. Updates the high-watermark cache as a side effect."""
        files = list(files)
        if len(self._hw) > 2 * len(files) + 64:
            # bound the cache to files that still exist: entries for
            # pruned/rotated capture files would otherwise accumulate
            # their full position lists for the stream's lifetime
            # (code-review r9)
            live = set(files)
            self._hw = {f: v for f, v in self._hw.items() if f in live}
        for f in files:
            try:
                size = os.path.getsize(f)
            except OSError:
                continue
            c = self._hw.get(f)
            if c is not None and c[0] == size:
                if c[1] is None or not (c[1] > floor):
                    if c[2]:
                        # fully below the floor (floors are monotone in
                        # a reader's lifetime): two scalars suffice
                        self._hw[f] = (c[0], c[1], [])
                    continue
                if c[2]:
                    # answer from the cached (sorted) positions — the
                    # file is immutable at this size, no re-decode
                    yield from c[2][bisect.bisect_right(c[2], floor):]
                    continue
                # the list was dropped under a HIGHER floor and a lower
                # one arrived (shouldn't happen for a live reader, but
                # a wrong answer is worse than one re-decode) — fall
                # through and re-scan the file (property-test finding)
            positions = list(positions_of_file(f))
            positions.sort()
            mx = positions[-1] if positions else None
            self._hw[f] = (size, mx, positions)
            yield from positions[bisect.bisect_right(positions, floor):]

    def skippable(self, f: str, lo, hi=None) -> bool:
        """True when the cache PROVES the file holds no position in
        ``(lo, hi]`` (``hi=None``: above ``lo``). Unknown or changed
        files are never skippable."""
        c = self._hw.get(f)
        if c is None or c[1] is None:
            return False
        try:
            size = os.path.getsize(f)
        except FileNotFoundError:
            return True  # vanished: nothing to read
        except OSError:
            # transient stat failure (EACCES/EIO) is NOT proof the file
            # is dead — treating it as skippable would silently drop it
            # from read partitions and make it prune-eligible
            return False
        if c[0] != size:
            return False
        # nothing above lo, or — backlog a bounded batch has not reached
        # yet — nothing up to hi (c[1] is the sorted positions' max)
        return not (c[1] > lo) or (
            hi is not None and bool(c[2])
            and c[2][bisect.bisect_right(c[2], lo)] > hi
        )


#: sparse seek-checkpoint cadence: one (position, byte) pair per this
#: many events — enough to land an executor seek within ~512 lines of
#: the batch start without growing the planner's memory
SEEK_CHECKPOINT_EVERY = 512

#: fewest seek checkpoints (~1k events) per decode slice — see
#: attach_split_slices for the cost model this floor rests on
SLICE_MIN_CHECKPOINTS = 2


def positions_with_seek_index(
    f, extract_pos, seek_index, dead_letter, fast_scan=None,
):
    """Decode a capture file's positions ONCE (the scan cache
    materializes the result for the file's lifetime), recording as a
    side effect a sparse position→byte seek index + whether the file
    is position-ordered — :func:`attach_split_slices` turns those into
    executor seek hints so read() is O(batch), not O(file).

    ``fast_scan`` is a format's planner fast path: a callable
    ``line_bytes -> position | None``, several times cheaper than a
    full ``json.loads`` per line (the planner decode of a fresh backlog
    file sat inside the steady-state latency window — measured r14);
    ``None`` from it, or no callable, falls back to the full parse. The
    supplier owns the soundness argument — it must return a position
    only when the json path would compute the same one, or when the
    line is poison under the json path: a phantom position there is
    benign, because the executor read() still dead-letters (or fails
    loudly on) the line itself, offsets stay monotone watermarks, and a
    phantom only makes file pruning/skipping more conservative."""
    ckpts: list[tuple] = []
    ordered = True
    prev = None
    i = 0
    off = 0
    with open(f, "rb") as fh:
        for line in fh:
            start = off
            off += len(line)
            if not line.strip():
                continue
            if fast_scan is not None and (
                fp := fast_scan(line)
            ) is not None:
                pos = fp
            else:
                try:
                    pos = extract_pos(json.loads(line))
                except Exception:  # noqa: BLE001 — mirrors read()'s routing
                    if dead_letter:
                        continue  # read() dead-letters the same line
                    raise
            if prev is not None and pos < prev:
                ordered = False
            prev = pos
            if i % SEEK_CHECKPOINT_EVERY == 0:
                ckpts.append((pos, start))
            i += 1
            yield pos
    seek_index[f] = (ckpts, ordered)


def _evict_seek_index(seek_index, files) -> None:
    """Bound the seek index to live files (the same eviction contract
    as the scan cache — entries for pruned capture files must not
    accumulate for the stream's lifetime)."""
    if len(seek_index) > 2 * len(files) + 64:
        live = set(files)
        for k in [k for k in seek_index if k not in live]:
            del seek_index[k]


def attach_split_slices(files, lo, hi, seek_index, max_splits: int):
    """Seek-hinted partition planning + WITHIN-FILE parallel decode: an
    ordered file's planned ``(lo, hi]`` range splits at sparse seek-
    checkpoint boundaries into up to ``max_splits`` :class:`_FileSlice`
    sub-slices, each an independent executor task — without this, one
    capture file is ONE task no matter how big the batch, so a catch-up
    batch decodes single-threaded while the cluster idles.

    Correctness: the sub-slices' ``(lo, hi]`` ranges tile (lo, hi]
    exactly at checkpoint POSITIONS, and each boundary's seek byte is
    at-or-before the first line of every position above it
    (ordered-file proof, same as the start hint), so no line is skipped
    and boundary-position lines re-read filtered. Scan-assigned
    counters (waljson's ``_counter``) stay exact because they are
    per-position (reset on every position change) and each sub-slice
    sees every line of the positions it OWNS; formats whose events
    carry their sub-position are safe a fortiori. Only position-ordered
    files split; unordered ones fall back to the single whole-range
    slice.

    A slice spans ≥ ``SLICE_MIN_CHECKPOINTS`` checkpoints (f = 2,
    ~1k events), and a batch plans at most ``max(len(files),
    max_splits)`` slices (``max_splits`` is the reader's
    ``decode_splits``: the session's cores unless set). Each file keeps
    at least one slice; the rest go to the files whose slices are
    largest. Cost
    model, measured on the micro-batch job itself (``waljson`` →
    ``BucketedParquetTable.append_delta``, ``local[3]``, 4-vCPU host,
    medians of ``addBatch`` over 25-60 batches):

    - one extra task costs c ≈ 14 ms (a batch of 1 → 3 files of 20
      events: 189 → 214, 183 → 210 and 214 → 245 ms in three runs);
    - one task decodes, sorts and writes r ≈ 28k events/s (35 µs per
      event: 300 → 5000-event batches, 198 → 359 ms);
    - a slice past the free cores waits for a second wave: 4 slices
      cost 75-100 ms more than 3 — hence the cap at the cores.

    Splitting N events into k slices instead of k-1 saves
    N/(r·k·(k-1)) and costs c: the k-th slice pays when every slice
    holds ≥ (k-1)·c·r ≈ (k-1)·400 events. The rule emits
    k = (checkpoints+1) // f slices of ~f·512 events each. f = 1
    (512-event slices) pays only up to k = 2; f = 2 (~1k) pays up to
    k = 3, so f = 2 is the smallest floor at which every slice pays
    while the cap holds k ≤ 3. Model times on 3 cores, one task /
    f = 2: 1.5k events 54 / 41 ms, 3k 107 / 64, 5k 179 / 88 (up to ~1k
    events stays one task). Direct runs agree: a 1.5k-event batch took
    261 ms as 1 task, 227 as 2; a 5000-event batch 369 ms as 1, 274 as
    3, 376 as 4. On more cores f = 2 falls short for k ≥ 4: a 4th
    slice of 1k events saves ~12 ms for its 14, an 8th ~5 ms (c was
    measured on 3 cores only)."""
    _evict_seek_index(seek_index, files)
    # per file: (seek byte of lo, inner checkpoints, spans, most slices)
    plans = []
    for f in files:
        ckpts, ordered = seek_index.get(f, ([], False))
        sb, inner, spans, most = 0, [], 1, 1
        if ordered and ckpts:
            keys = [c[0] for c in ckpts]
            i = bisect.bisect_right(keys, lo) - 1
            if i >= 0:
                sb = ckpts[i][1]
            inner = [
                c for c in ckpts[max(i, 0):bisect.bisect_right(keys, hi)]
                if lo < c[0] < hi
            ]
            spans = len(inner) + 1
            most = max(1, spans // SLICE_MIN_CHECKPOINTS)
        plans.append((f, ordered, sb, inner, spans, most))
    # every file gets one slice; the batch's further slices (up to
    # max_splits in all) go one at a time to the file whose slices are
    # the largest, until no file can take another
    counts = [1] * len(plans)
    for _ in range(max_splits - len(plans)):
        room = [k for k, p in enumerate(plans) if counts[k] < p[5]]
        if not room:
            break
        counts[max(room, key=lambda k: plans[k][4] / counts[k])] += 1
    out = []
    for (f, ordered, sb, inner, spans, _), n_slices in zip(plans, counts):
        if n_slices == 1:
            out.append(_FileSlice(f, lo, hi, sb, ordered))
            continue
        # n_slices slices of ≥ SLICE_MIN_CHECKPOINTS spans each:
        # boundary j ends span j·spans // n_slices
        bounds = [inner[j * spans // n_slices - 1] for j in range(1, n_slices)]
        cur_lo, cur_sb = lo, sb
        for bp, bbyte in bounds:
            if bp == cur_lo:
                continue  # >512-line tx: duplicate boundary
            out.append(_FileSlice(f, cur_lo, bp, cur_sb, True))
            cur_lo, cur_sb = bp, bbyte
        out.append(_FileSlice(f, cur_lo, hi, cur_sb, True))
    return out


def prune_committed_files(cache: OffsetScanCache, files, end) -> int:
    """Slot-trim analog (≈ the reference letting the server trim the
    slot at the acked LSN): delete recorded files whose every position
    is at or below the COMMITTED offset — Spark never plans a batch
    below its committed checkpoint, so they are dead weight. Only
    files the cache can prove fully-committed are touched. Returns the
    number of files removed."""
    n = 0
    for f in files:
        if cache.skippable(f, end):
            try:
                os.remove(f)
                n += 1
            except OSError:
                pass
    return n


def _flag(options: dict, name: str) -> bool:
    return str(options.get(name, "false")).lower() in ("true", "1")


#: row-mapper verdict: the slice's ordered file holds nothing past here
_STOP = object()


class RecordedCdcStreamReader(DataSourceStreamReader):
    """The recorded-CDC source contract (Structured Streaming's
    replayable offsets, ``read`` of ``(start, end]``, ``commit``), once
    for every capture format. Rows with position in ``(start, end]``
    belong to the batch — the same half-open contract as Kafka offsets.

    A format subclass supplies only its hooks:

    - ``_META_FIELDS``: the meta tail its rows append — a name is
      excluded from ``payload_fields`` only when the format really
      emits it, or a payload column with a reserved-looking name
      silently breaks the tuple arity (code-review r14);
    - ``_position(ev)``: an event's position (totally ordered);
    - ``_fast_scan``: the planner fast path
      (:func:`positions_with_seek_index`), or None;
    - ``_to_pos(offset)`` / ``_to_offset(pos)``: Spark-checkpoint
      offset dict ⇄ position (also the ack-file format);
    - ``_initial_pos(options)``: where a fresh checkpoint starts;
    - ``_table(ev)``: the ``_table`` string the event's row carries;
    - ``_row_mapper(lo, hi, ordered)``: a per-slice ``ev -> row tuple
      | None (skip) | _STOP`` function.

    The defaults are integer LSN positions with ``{"lsn": n}`` offsets
    and a ``start_lsn`` option, the waljson and binlog algebra."""

    _META_FIELDS = (
        "_op", "_lsn", "_counter", "_table", "_before", "_present",
    )
    _fast_scan: Callable[[bytes], object] | None = None

    def __init__(self, schema: T.StructType, options: dict):
        self.path = options["path"]
        self.schema = schema
        self.payload_fields = [
            f.name for f in schema.fields if f.name not in self._META_FIELDS
        ]
        _reject_reserved_payload(self.payload_fields)
        # executor tasks yield pyarrow RecordBatches instead of row
        # tuples when every payload type is arrow-safe — skips the
        # worker's per-cell converter calls (measured ~1.9× on the
        # decode plane, r13); arrow_batches=false restores row tuples
        self.arrow_batches, self.arrow_chunk = arrow_option_fields(options)
        self.ack_file = options.get("ack_file")
        # snapshot→replication handoff (≈ the slot LSN / saved binlog
        # position / resume token recorded at activate time): a fresh
        # checkpoint starts AFTER this position, so pre-snapshot capture
        # in the directory is not replayed over newer snapshot state
        self.start_pos = self._initial_pos(options)
        # bounded catch-up batches (≈ middlewares/bufferer.go caps):
        # advance at most this many positions per planned batch, so a
        # replica resuming after downtime processes the backlog in
        # memory-bounded micro-batches instead of one giant batch
        mx = options.get("max_events_per_batch")
        self.max_events = int(mx) if mx is not None else None
        # within-file parallel decode (attach_split_slices): a planned
        # range splits into up to this many executor tasks at seek-
        # checkpoint boundaries; 1 = one task per file. Unset, it is the
        # session's cores, at most 8: a slice past them waits for a
        # second wave. The planner runs in a Python worker with no
        # SparkContext; get_spark() exports its local[n] to every worker
        # as SPARK_GRAFT_CPUS
        cores = int(os.environ.get("SPARK_GRAFT_CPUS") or 8)
        self.decode_splits = max(
            1, int(options.get("decode_splits", min(8, cores)))
        )
        # _base floors latestOffset() so bounded catch-up never plans an
        # end below an already-planned one. In-memory alone it is LOST
        # on a query restart — a fresh reader would re-base on start_pos
        # and return an offset BELOW the committed checkpoint, and Spark
        # would record the regressed offset and replay processed ranges.
        # Seed it from the durable ack written by commit() (the
        # committed-position state the reference keeps in its
        # coordinator).
        self._base = None
        if self.ack_file:
            try:
                with open(self.ack_file) as fh:
                    self._base = self._to_pos(json.load(fh))
            except (FileNotFoundError, ValueError, KeyError):
                pass
        # emit TRUNCATE/DDL statements as control ChangeItems (kind.go
        # parity) for ControlRouter pipelines (streaming/controls.py);
        # default drops them — plain collapse/merge consumers expect
        # row kinds only
        self.emit_controls = _flag(options, "emit_controls")
        # dead-letter route for poison events (≈ <table>_unparsed,
        # generic_parser.go): when set, a malformed line is recorded
        # there and the stream continues; when unset, it fails loudly
        # (and the supervisor classifies the parse error fatal)
        self.dead_letter = options.get("dead_letter_dir")
        # slot-trim analog: delete recorded files once wholly below the
        # COMMITTED offset (the server-side log trim the flushed ack
        # authorizes) — keeps the tailed directory bounded on
        # long-running streams; off by default (keep history)
        self.prune_committed = _flag(options, "prune_committed")
        self._scan_cache = OffsetScanCache()
        # file -> (sparse [(position, byte)] checkpoints, ordered flag),
        # recorded by _file_positions' one-time decode; partitions()
        # turns these into executor seek hints
        self._seek_index: dict[str, tuple[list, bool]] = {}

    # -- format hooks: integer LSN defaults --------------------------
    @staticmethod
    def _to_pos(offset: dict):
        return int(offset["lsn"])

    @staticmethod
    def _to_offset(pos) -> dict:
        return {"lsn": pos}

    @staticmethod
    def _initial_pos(options: dict):
        return int(options.get("start_lsn", 0))

    @staticmethod
    def _table(ev: dict) -> str:
        return ".".join(x for x in (ev.get("schema"), ev.get("table")) if x)

    # -- shared machinery ---------------------------------------------
    def _file_positions(self, f: str):
        """One decode per immutable file, seek index recorded as a side
        effect; the poison filter mirrors read()'s dead-letter route,
        so planning and read() agree on what is poison."""
        yield from positions_with_seek_index(
            f, self._position, self._seek_index, bool(self.dead_letter),
            self._fast_scan,
        )

    def initialOffset(self) -> dict:
        return self._to_offset(self.start_pos)

    def latestOffset(self) -> dict:
        base = self.start_pos if self._base is None else self._base
        pending = set(
            self._scan_cache.pending(
                _scan_files(self.path), base, self._file_positions
            )
        )
        if self.max_events is None:
            return self._to_offset(max(pending, default=base))
        if not pending:
            return self._to_offset(base)
        return self._to_offset(sorted(pending)[: self.max_events][-1])

    def partitions(self, start: dict, end: dict) -> Sequence[InputPartition]:
        lo, hi = self._to_pos(start), self._to_pos(end)
        # `start` is Spark's committed checkpoint — a second durable
        # floor for _base (belt-and-braces with the ack_file seed)
        self._base = max(p for p in (self._base, lo, hi) if p is not None)
        if hi <= lo:
            return [_FileSlice("", lo, hi)]  # empty batch still needs ≥1 partition
        # prune read tasks for files the planner cache PROVES hold
        # nothing in (lo, hi] — each batch reads O(its files), not
        # O(directory)
        files = [
            f for f in _scan_files(self.path)
            if not self._scan_cache.skippable(f, lo, hi)
        ]
        if not files:
            return [_FileSlice("", lo, hi)]
        return attach_split_slices(
            files, lo, hi, self._seek_index, self.decode_splits
        )

    def read(self, partition: _FileSlice):
        """Yields pyarrow RecordBatches (fast path: pa.array converts
        whole columns C-side, no per-cell Python converter calls in the
        worker) or row tuples when the payload types are not in the
        arrow-safe set / arrow_batches=false. Same rows either way —
        the tuple generator stays the single decode implementation."""
        yield from wrap_arrow_read(self, self._read_tuples(partition))

    def _read_tuples(self, partition: _FileSlice) -> Iterator[tuple]:
        if not partition.path:
            return
        row_of = self._row_mapper(partition.lo, partition.hi, partition.ordered)
        with open(partition.path, "rb") as fh:
            if partition.start_byte:
                # seek hint: everything before this byte is <= lo by
                # the planner's order proof; scan-assigned counters
                # stay exact because a checkpoint lands on a line start
                # and all lines of any position > lo sit at-or-after it
                fh.seek(partition.start_byte)
            # dead-letter idempotence keys use the line's BYTE OFFSET,
            # not its index: with seeking, an index is relative to the
            # seek point, and the same poison line replayed under a
            # different batch start would duplicate its record
            off = partition.start_byte
            for line in fh:
                line_pos = off
                off += len(line)
                if not line.strip():
                    continue
                # poison events (malformed JSON, missing positions, bad
                # payload shapes) dead-letter and the stream continues —
                # one bad row must not force a re-snapshot
                # (generic_parser.go's NewUnparsed contract); without a
                # dead-letter route the parse error stays loud/fatal
                ev = None
                try:
                    ev = json.loads(line)
                    row = row_of(ev)
                except Exception as e:  # noqa: BLE001 — routed, not dropped
                    if not self.dead_letter:
                        raise
                    dead_letter_record(
                        self.dead_letter, partition.path, line_pos,
                        line.strip().decode(errors="replace"), e,
                        table=self._dead_letter_table(ev),
                    )
                    continue
                if row is _STOP:
                    return
                if row is not None:
                    yield row

    def _dead_letter_table(self, ev) -> str | None:
        """The ``_table`` the poison line's row would have carried,
        when the line parsed far enough to name one."""
        try:
            return self._table(ev) or None
        except (AttributeError, TypeError):  # not an object / odd names
            return None

    def commit(self, end: dict) -> None:
        # ≈ slot ack (publisher_replication.go:140) / saved binlog
        # position / per-collection resume token: persist the confirmed
        # offset so the tailer can trim the log
        if self.ack_file:
            durable.publish(self.ack_file, json.dumps(end))
        if self.prune_committed:
            prune_committed_files(
                self._scan_cache, _scan_files(self.path), self._to_pos(end)
            )


# waljson planner fast scan: ``"lsn"`` is a TOP-LEVEL integer key. Sound
# because in valid JSON an UNESCAPED ``"lsn"`` byte sequence can only be
# a complete string token (a quote inside a string is ``\"``, which
# breaks the byte pattern), ``"lsn" :`` followed by a bare number can
# only be an object key, and the scan only fires when the token occurs
# EXACTLY once in the line — two occurrences (e.g. nested under a
# payload object as well) fall back to the full parse. The one
# reachable divergence is a line whose ONLY ``lsn`` is nested: poison
# under the json path, so the phantom position is benign. The trailing
# guard keeps a float/exponent value (4.5, 4e3) off the fast path
# (int() of the parsed float truncates differently than a digit prefix).
_LSN_TOKEN = b'"lsn"'
_LSN_RX = re.compile(rb'"lsn"\s*:\s*(-?\d+)(?![.eE\d])')


def _lsn_fast_scan(line: bytes):
    """``line -> lsn | None`` for the planner's position decode."""
    if line.count(_LSN_TOKEN) != 1:
        return None
    m = _LSN_RX.search(line)
    return int(m.group(1)) if m else None


class WalJsonStreamReader(RecordedCdcStreamReader):
    """wal2json v2 lines; offsets are ``{"lsn": n}``."""

    _fast_scan = staticmethod(_lsn_fast_scan)

    @staticmethod
    def _position(ev: dict) -> int:
        return int(ev["lsn"])

    def _row_mapper(self, lo: int, hi: int, ordered: bool):
        fields = self.payload_fields
        # _counter: event index within one LSN (= one transaction in
        # wal2json v2), assigned in file order. The slot tailer flushes
        # whole transactions to one file, so per-file counting is total
        # per (lsn) — matching the reference's counter-within-tx.
        last_lsn, counter = None, 0

        def row(ev: dict):
            nonlocal last_lsn, counter
            lsn = self._position(ev)
            if ordered and lsn > hi:
                # lsn-ordered file (planner-proved): nothing past this
                # line belongs to (lo, hi]
                return _STOP
            action = ev.get("action")
            op = _ACTIONS.get(action)
            if op is None:
                # wal2json 'T' (TRUNCATE) becomes a control ChangeItem
                # when the pipeline opted in, as does an 'M' logical
                # message whose prefix is "ddl" — the public
                # pg_logical_emit_message / event-trigger pattern for
                # DDL capture. 'B'/'C' (tx markers) and other messages
                # are never row changes, and a control line not emitted
                # does not bump the counter.
                is_ctl = action == "T" or (
                    action == "M" and ev.get("prefix") == "ddl"
                )
                if not (self.emit_controls and is_ctl and lo < lsn <= hi):
                    return None
                counter = counter + 1 if lsn == last_lsn else 0
                last_lsn = lsn
                return (None,) * len(fields) + (
                    "truncate" if action == "T" else "ddl",
                    lsn, counter, self._table(ev) or None, None, None,
                )
            counter = counter + 1 if lsn == last_lsn else 0
            last_lsn = lsn
            if not (lo < lsn <= hi):
                return None
            cols = {c["name"]: c.get("value") for c in ev.get("columns") or []}
            present = sorted(cols) if action == "U" else None
            identity = ev.get("identity") or []
            before = None
            if identity:
                bmap = {c["name"]: c.get("value") for c in identity}
                before = tuple(bmap.get(n) for n in fields)
            if action == "D" and not cols:
                cols = {c["name"]: c.get("value") for c in identity}
            return tuple(cols.get(n) for n in fields) + (
                op, lsn, counter, self._table(ev), before, present,
            )

        return row


def probe_wal_schema(path: str, base_ddl: str) -> T.StructType:
    """Relation-message analog for the recorded wal2json stream (≈ the
    reference re-resolving the table schema on a relation message,
    ``publisher_replication.go:202``): wal2json v2 events carry their
    columns as ``columns``/``identity`` arrays of ``{name, value}``
    objects — NOT the ``before``/``after`` dicts of the binlog format —
    so the probe walks those arrays for names missing from the base
    schema, infers types from the JSON values, and evolves
    widening-only (new columns append nullable, ``schema_drift.evolve``
    contract). Returns the evolved StructType."""
    from transferia_spark.streaming.schema_drift import incremental_probe

    def extract(ev: dict):
        for side in ("columns", "identity"):
            for c in ev.get(side) or []:
                if isinstance(c, dict):
                    yield c.get("name"), c.get("value")

    return incremental_probe(
        "waljson", path, _scan_files(path), base_ddl, extract
    )


class WalJsonDataSource(DataSource):
    """Register with ``spark.dataSource.register(WalJsonDataSource)``;
    then ``spark.readStream.format("waljson").schema(
    wal_output_schema(ddl)).option("path", dir).load()``."""

    @classmethod
    def name(cls) -> str:
        return "waljson"

    def schema(self) -> str:
        raise NotImplementedError("waljson requires an explicit schema")

    def streamReader(self, schema: T.StructType) -> WalJsonStreamReader:
        return WalJsonStreamReader(schema, self.options)
