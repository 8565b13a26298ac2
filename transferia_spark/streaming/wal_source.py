"""Slot-direct CDC via a custom PySpark DataSource stream reader.

≈ ``pkg/providers/postgres/publisher_replication.go:75`` (``Run``: read
logical-replication slot → wal2json events → ChangeItems, ack LSN after
downstream push) in transferia/transferia. The reference speaks the
replication protocol in-process; the Spark-native equivalent is a
PySpark 4 ``DataSourceStreamReader`` whose offsets ARE the LSN — Spark's
checkpointing then gives exactly the reference's ack contract
(``commit(offset)`` fires only after the micro-batch is durably
processed, ≈ ``publisher_replication.go:140``).

The wire format is wal2json v2 (public PostgreSQL plugin): one JSON
object per line, ``{"action": "I|U|D", "schema": s, "table": t,
"columns": [{name, value}...], "identity": [{name, value}...],
"lsn": n}``. This module consumes a directory of such JSON-line files
(the slot tail piped to files — the transport the container can test);
the read loop, offset algebra, and row mapping are transport-agnostic,
so a socket/psycopg transport only replaces ``_scan_files``.

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
import json
import os
from collections.abc import Iterator, Sequence

from pyspark.sql import types as T
from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)

_ACTIONS = {"I": "i", "U": "u", "D": "d"}

# exactly the meta tail the WAL reader APPENDS to its tuples — a name
# must only be excluded from payload_fields when the reader really
# emits it, or a payload column with a reserved-looking name silently
# breaks the tuple arity (code-review r14: `_removed` belongs to the
# change-stream reader's tail, not this one)
_META_FIELDS = (
    "_op", "_lsn", "_counter", "_table", "_before", "_present",
)

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
    except Exception:  # pragma: no cover — exotic/unmapped type
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
    unchanged. Readers call this from ``read()`` around their tuple
    generator."""
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
    def __init__(self, path: str, start_lsn: int, end_lsn: int,
                 start_byte: int = 0, ordered: bool = False):
        self.path = path
        self.start_lsn = start_lsn
        self.end_lsn = end_lsn
        # planner seek hints (r9): byte offset of the last sparse
        # checkpoint at-or-below start_lsn, and whether the file is
        # lsn-ordered (enables early stop past end_lsn) — read() is
        # then O(batch bytes) instead of re-decoding the file head
        # every micro-batch
        self.start_byte = start_byte
        self.ordered = ordered


def _scan_files(path: str) -> list[str]:
    try:
        names = sorted(os.listdir(path))
    except FileNotFoundError:
        return []
    return [os.path.join(path, n) for n in names if n.endswith((".json", ".jsonl"))]


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
    tmp = final + ".tmp"
    with open(tmp, "w") as fh:
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
    os.replace(tmp, final)


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

#: fewest seek checkpoints (~8k events) per decode slice — see
#: attach_split_slices for the per-task cost this floor rests on
SLICE_MIN_CHECKPOINTS = 16


def positions_with_seek_index(
    f, extract_pos, seek_index, dead_letter, fast_key: str | None = None,
    fast_scan=None,
):
    """Decode a capture file's positions ONCE (the scan cache
    materializes the result for the file's lifetime), recording as a
    side effect a sparse position→byte seek index + whether the file
    is position-ordered — :func:`attach_split_slices` turns those into
    executor seek hints so read() is O(batch), not O(file). Shared by
    the waljson, binlog and change-stream readers (one implementation,
    code-review r9).

    ``fast_key`` names a TOP-LEVEL integer position key (waljson's
    ``lsn``) and enables a regex fast path ~5× cheaper than a full
    ``json.loads`` per line (the planner decode of a fresh backlog file
    sat inside the steady-state latency window — measured r14). Sound
    because in valid JSON an UNESCAPED ``"key"`` byte sequence can only
    be a complete string token (a quote inside a string is ``\\"``,
    which breaks the byte pattern), ``"key" :`` followed by a bare
    number can only be an object key, and the fast path only fires when
    the key token occurs EXACTLY once in the line — two occurrences
    (e.g. nested under a payload object as well) fall back to the full
    parse. The one reachable divergence is a line whose ONLY ``key`` is
    nested (top-level absent): a POISON line under the json path, which
    the fast path plans at the nested number instead of skipping — the
    executor read() still dead-letters (or fails loudly on) the line
    itself, offsets stay monotone watermarks, and a phantom position
    only makes file pruning/skipping more conservative.

    ``fast_scan`` is the composite-key generalization: a callable
    ``line_bytes -> position | None`` a reader supplies when its
    position spans several fields (the binlog reader's
    ``log_file``+``log_pos``); ``None`` falls back to the full parse.
    The supplier owns the soundness argument — it must return a
    position only when the json path would compute the same one, or
    when the line is poison under the json path (where a phantom is
    benign exactly as above). The change-stream reader deliberately has
    NO fast scan: its position falls back to the ``_id._data`` resume
    token when the explicit fields are absent, so a resume-token event
    whose user ``fullDocument`` happens to carry fields named
    ``clusterTime``/``order`` would fast-plan a phantom for a NON-poison
    line — unsound, unlike the two shipped fast paths."""
    ckpts: list[tuple] = []
    ordered = True
    prev = None
    i = 0
    off = 0
    token = rx = None
    if fast_key is not None:
        import re

        token = b'"%s"' % fast_key.encode()
        # trailing guard: a float/exponent value (4.5, 4e3) must NOT
        # fast-path (int() of the parsed float truncates differently
        # than a digit-prefix match) — fall back to the full parse
        rx = re.compile(token + rb"\s*:\s*(-?\d+)(?![.eE\d])")
    with open(f, "rb") as fh:
        for line in fh:
            start = off
            off += len(line)
            if not line.strip():
                continue
            if token is not None and line.count(token) == 1 and (
                m := rx.search(line)
            ):
                pos = int(m.group(1))
            elif fast_scan is not None and (
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


def attach_split_slices(
    files, lo, hi, seek_index, make_slice, max_splits: int,
):
    """Seek-hinted partition planning + WITHIN-FILE parallel decode: an
    ordered file's planned ``(lo, hi]`` range splits at sparse seek-
    checkpoint boundaries into up to ``max_splits`` sub-slices, each
    an independent executor task — without this, one capture file is
    ONE task no matter how big the batch, so a catch-up batch decodes
    single-threaded while the cluster idles.

    Correctness: ``make_slice(f, sub_lo, sub_hi, start_byte, ordered)``
    sub-ranges tile (lo, hi] exactly at checkpoint POSITIONS, and each
    boundary's seek byte is at-or-before the first line of every
    position above it (ordered-file proof, same as the start hint), so
    no line is skipped and boundary-position lines re-read filtered.
    Counters stay exact because they are per-position (reset on every
    position change) and each sub-slice sees every line of the
    positions it OWNS. Only position-ordered files split; unordered
    ones fall back to the single whole-range slice.

    A slice spans ≥ ``SLICE_MIN_CHECKPOINTS`` checkpoints (~8k events):
    a Python task wave costs ~250-300 ms before ``read()`` starts, and
    ``read()`` decodes ~30k events/s per core (20-85 ms per 1.5k-5k-event
    slice), so a smaller slice costs more than its task saves."""
    _evict_seek_index(seek_index, files)
    out = []
    for f in files:
        ckpts, ordered = seek_index.get(f, ([], False))
        sb = 0
        if ordered and ckpts:
            keys = [c[0] for c in ckpts]
            i = bisect.bisect_right(keys, lo) - 1
            if i >= 0:
                sb = ckpts[i][1]
            inner = [
                c for c in ckpts[max(i, 0):bisect.bisect_right(keys, hi)]
                if lo < c[0] < hi
            ]
            n_slices = min(
                max_splits, (len(inner) + 1) // SLICE_MIN_CHECKPOINTS
            )
            if n_slices > 1:
                # exactly ≤ max_splits slices: n_slices-1 boundaries
                # (the naive stride over-emitted up to ~40% more
                # tasks than the option promised, code-review r11
                # pass 2)
                step = max(1, -(-(len(inner) + 1) // n_slices))
                bounds = inner[step - 1::step][: n_slices - 1]
                cur_lo, cur_sb = lo, sb
                for bp, bbyte in bounds:
                    if bp == cur_lo:
                        continue  # >512-line tx: duplicate boundary
                    out.append(make_slice(f, cur_lo, bp, cur_sb, True))
                    cur_lo, cur_sb = bp, bbyte
                out.append(make_slice(f, cur_lo, hi, cur_sb, True))
                continue
        out.append(make_slice(f, lo, hi, sb, ordered))
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


class WalJsonStreamReader(DataSourceStreamReader):
    def __init__(self, schema: T.StructType, options: dict):
        self.path = options["path"]
        self.schema = schema
        self.payload_fields = [
            f.name for f in schema.fields if f.name not in _META_FIELDS
        ]
        _reject_reserved_payload(self.payload_fields)
        # executor tasks yield pyarrow RecordBatches instead of row
        # tuples when every payload type is arrow-safe — skips the
        # worker's per-cell converter calls (measured ~1.9× on the
        # decode plane, r13); arrow_batches=false restores row tuples
        self.arrow_batches, self.arrow_chunk = arrow_option_fields(options)
        self.ack_file = options.get("ack_file")
        # snapshot→replication handoff (≈ the slot LSN recorded at
        # activate time, lsn_slot.go): a fresh checkpoint starts AFTER
        # this position, so pre-snapshot WAL in the directory is not
        # replayed over newer snapshot state
        self.start_lsn = int(options.get("start_lsn", 0))
        # bounded catch-up batches (≈ middlewares/bufferer.go caps):
        # advance at most this many LSNs per planned batch
        mx = options.get("max_events_per_batch")
        self.max_events = int(mx) if mx is not None else None
        # within-file parallel decode (attach_split_slices): a planned
        # range splits into up to this many executor tasks at seek-
        # checkpoint boundaries; 1 = one task per file (old behavior)
        self.decode_splits = max(1, int(options.get("decode_splits", 8)))
        # _base floors latestOffset() so bounded catch-up never plans an
        # end below an already-planned one. In-memory alone it is LOST
        # on a query restart — a fresh reader would re-base on start_lsn
        # and return an offset BELOW the committed checkpoint, and Spark
        # would record the regressed offset and replay processed ranges.
        # Seed it from the durable ack written by commit() (the
        # committed-LSN state the reference keeps in its coordinator).
        self._base: int | None = None
        if self.ack_file:
            try:
                with open(self.ack_file) as fh:
                    self._base = int(json.load(fh)["lsn"])
            except (FileNotFoundError, ValueError, KeyError):
                pass
        # emit wal2json TRUNCATE statements ('T' actions) as control
        # ChangeItems for ControlRouter pipelines (kind.go parity);
        # default drops them like the other non-row actions
        self.emit_controls = str(
            options.get("emit_controls", "false")
        ).lower() in ("true", "1")
        # dead-letter route for poison events (≈ <table>_unparsed,
        # generic_parser.go): when set, a malformed line is recorded
        # there and the stream continues; when unset, it fails loudly
        # (and the supervisor classifies the parse error fatal)
        self.dead_letter = options.get("dead_letter_dir")
        # slot-trim analog: delete recorded files once wholly below the
        # COMMITTED offset (the server-side WAL trim the flushed ack
        # authorizes) — keeps the tailed directory bounded on
        # long-running streams; off by default (keep history)
        self.prune_committed = str(
            options.get("prune_committed", "false")
        ).lower() in ("true", "1")
        self._scan_cache = OffsetScanCache()
        # file -> (sparse [(lsn, byte)] checkpoints, lsn-ordered flag),
        # recorded by _file_positions' one-time decode; partitions()
        # turns these into executor seek hints
        self._seek_index: dict[str, tuple[list, bool]] = {}

    def _file_positions(self, f: str):
        """One decode per immutable file, seek index recorded as a side
        effect (the shared helper — partitions() turns it into executor
        seek hints so read() is O(batch), not O(file))."""
        yield from positions_with_seek_index(
            f,
            lambda ev: int(ev["lsn"]),
            self._seek_index,
            bool(self.dead_letter),
            fast_key="lsn",
        )

    # -- offset algebra: an offset is {"lsn": n}, rows with lsn in
    # (start, end] belong to the batch (same half-open contract as
    # Kafka offsets) --------------------------------------------------
    def initialOffset(self) -> dict:
        return {"lsn": self.start_lsn}

    def latestOffset(self) -> dict:
        base = self._base if self._base is not None else self.start_lsn
        pending = set(
            self._scan_cache.pending(
                _scan_files(self.path), base, self._file_positions
            )
        )
        if self.max_events is None:
            return {"lsn": max(max(pending, default=0), base)}
        if not pending:
            return {"lsn": base}
        return {"lsn": sorted(pending)[: self.max_events][-1]}

    def partitions(self, start: dict, end: dict) -> Sequence[InputPartition]:
        # `start` is Spark's committed checkpoint — a second durable
        # floor for _base (belt-and-braces with the ack_file seed)
        self._base = max(self._base or 0, int(end["lsn"]), int(start["lsn"]))
        lo, hi = int(start["lsn"]), int(end["lsn"])
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
            files, lo, hi, self._seek_index,
            lambda f, slo, shi, sb, o: _FileSlice(f, slo, shi, sb, o),
            max_splits=self.decode_splits,
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
        lo, hi = partition.start_lsn, partition.end_lsn
        # _counter: event index within one LSN (= one transaction in
        # wal2json v2), assigned in file order. The slot tailer flushes
        # whole transactions to one file, so per-file counting is total
        # per (lsn) — matching the reference's counter-within-tx.
        last_lsn, counter = None, 0
        with open(partition.path, "rb") as fh:
            if partition.start_byte:
                # seek hint: everything before this byte is <= lo by
                # the planner's order proof; counters stay exact
                # because a checkpoint lands on a line start and all
                # lines of any lsn > lo sit at-or-after it
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
                try:
                    ev = json.loads(line)
                    lsn = int(ev["lsn"])
                    if partition.ordered and lsn > hi:
                        # lsn-ordered file (planner-proved): nothing
                        # past this line belongs to (lo, hi]
                        return
                    action = ev.get("action")
                    if action not in _ACTIONS:
                        # wal2json 'T' (TRUNCATE) becomes a control
                        # ChangeItem when the pipeline opted in, as does
                        # an 'M' logical message whose prefix is "ddl" —
                        # the public pg_logical_emit_message /
                        # event-trigger pattern for DDL capture.
                        # 'B'/'C' (tx markers) and other messages are
                        # never row changes.
                        is_ctl = action == "T" or (
                            action == "M" and ev.get("prefix") == "ddl"
                        )
                        if not (
                            self.emit_controls and is_ctl and lo < lsn <= hi
                        ):
                            continue
                        counter = counter + 1 if lsn == last_lsn else 0
                        last_lsn = lsn
                        yield tuple(None for _ in self.payload_fields) + (
                            "truncate" if action == "T" else "ddl",
                            lsn,
                            counter,
                            ".".join(
                                x
                                for x in (ev.get("schema"), ev.get("table"))
                                if x
                            )
                            or None,
                            None,
                            None,
                        )
                        continue
                    counter = counter + 1 if lsn == last_lsn else 0
                    last_lsn = lsn
                    if not (lo < lsn <= hi):
                        continue
                    cols = {
                        c["name"]: c.get("value")
                        for c in ev.get("columns") or []
                    }
                    present = sorted(cols) if action == "U" else None
                    identity = ev.get("identity") or []
                    before = None
                    if identity:
                        bmap = {c["name"]: c.get("value") for c in identity}
                        before = tuple(
                            bmap.get(n) for n in self.payload_fields
                        )
                    if action == "D" and not cols:
                        cols = {c["name"]: c.get("value") for c in identity}
                    yield tuple(cols.get(n) for n in self.payload_fields) + (
                        _ACTIONS[action],
                        lsn,
                        counter,
                        ".".join(
                            x for x in (ev.get("schema"), ev.get("table")) if x
                        ),
                        before,
                        present,
                    )
                except Exception as e:  # noqa: BLE001 — routed, not dropped
                    if self.dead_letter:
                        dead_letter_record(
                            self.dead_letter, partition.path, line_pos,
                            line.strip().decode(errors="replace"), e,
                        )
                        continue
                    raise

    def commit(self, end: dict) -> None:
        # ≈ slot ack (publisher_replication.go:140): persist the
        # confirmed LSN so the slot/tailer can trim the log
        if self.ack_file:
            tmp = self.ack_file + ".tmp"
            with open(tmp, "w") as fh:
                json.dump(end, fh)
            os.replace(tmp, self.ack_file)
        if self.prune_committed:
            prune_committed_files(
                self._scan_cache, _scan_files(self.path), int(end["lsn"])
            )


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
