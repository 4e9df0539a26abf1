"""Custom connector via the Python DataSource API (Spark 4) — a
FIXED-WIDTH text reader, the classic mainframe/export record format
Spark has no native source for.

This exercises the engine's connector EXTENSION surface: a data source
written entirely in Python (no JVM code) that plugs into
``spark.read.format(...)`` with schema declaration, one input
partition per file (so a directory of N files scans with N-way
parallelism, exactly like the built-in file sources), and per-partition
iterator reads executed on the workers.

Encoding contract (binary-safe by construction — the reason this
format survives hostile data): every field is hex (strings: UTF-8
bytes hexed then right-padded with spaces; int64: 16 hex chars,
two's-complement; float64: 16 hex chars of the IEEE-754 big-endian
bits, so NaN/±inf/-0.0 round-trip bit-exactly); NULL is the field
width of ``Z`` characters, which can never collide with hex/padding.
Newlines or control characters in the DATA can therefore never break
the LINE framing.

Scale notes: each partition reads one ALIGNED byte range (a whole
small file, or a record-range slice of a large one — fixed record
width makes offsets exact) and decodes it with numpy kernels into a
``pyarrow.RecordBatch``; the write side is the symmetric numpy
encoder.  Each direction has this one path; the scalar
``encode_*``/``decode_*`` codecs below define the format, and the
tests hold the kernels to them.  The planner ships only (path, spec, range) per partition.
All four connector quadrants are implemented: batch read
(``FixedWidthReader``), streaming read (``FixedWidthStreamReader``),
batch write (``FixedWidthWriter`` — staged-rename commit, so failed
jobs never publish partial data), streaming write
(``FixedWidthStreamWriter`` — per-batch deterministic names,
idempotent under micro-batch replay).
Column pruning is not implemented — a fixed-width record must be
sliced whole anyway.  Filters Spark pushes (``pushFilters``) are
applied as one Arrow mask over each decoded batch.
"""

from __future__ import annotations

import os
import struct
from typing import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    DataSourceStreamReader,
    EqualNullSafe,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    IsNotNull,
    IsNull,
    LessThan,
    LessThanOrEqual,
    StringContains,
    StringEndsWith,
    StringStartsWith,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

FORMAT_NAME = "pmr_fixedwidth"


def _parse_spec(options: dict, schema: StructType) -> list[tuple[str, int]]:
    """Parse the ``spec`` option against a schema (shared by the reader
    and both writers): comma-separated per-field ``type`` or
    ``type:width`` (strings), one per schema field."""
    parts = options["spec"].split(",")
    if len(parts) != len(schema.fields):
        raise ValueError(
            f"spec has {len(parts)} fields but schema declares "
            f"{len(schema.fields)} — a silent zip-truncation here would "
            "surface as an opaque executor-side row/schema mismatch"
        )
    spec = []
    for part in parts:
        bits = part.split(":")
        t = bits[0]
        spec.append((t, _field_width(t, int(bits[1]) if len(bits) > 1 else 0)))
    return spec


def _field_width(field_type: str, declared: int) -> int:
    if field_type in ("bigint", "long"):
        return 16
    if field_type == "double":
        return 16
    return declared  # string: caller-declared hex width


def encode_long(v) -> str:
    if v is None:
        return "Z" * 16
    return format(v & 0xFFFFFFFFFFFFFFFF, "016x")


def decode_long(s: str):
    if s[0] == "Z":
        return None
    u = int(s, 16)
    return u - (1 << 64) if u >= (1 << 63) else u


def encode_double(v) -> str:
    if v is None:
        return "Z" * 16
    return struct.pack(">d", v).hex()


def decode_double(s: str):
    if s[0] == "Z":
        return None
    return struct.unpack(">d", bytes.fromhex(s))[0]


def encode_string(v, width: int) -> str:
    if v is None:
        return "Z" * width
    h = v.encode("utf-8").hex()
    if len(h) > width:
        raise ValueError(f"string field overflows declared hex width {width}: {v!r}")
    return h.ljust(width)


def decode_string(s: str):
    if s and s[0] == "Z":
        return None
    return bytes.fromhex(s.strip()).decode("utf-8")


class _FilePartition(InputPartition):
    """A record range within one file.  ``start``/``n`` are RECORD
    indices (records are fixed width, so byte offsets are exact:
    ``start * (record_width + 1)``); ``n = -1`` means "to end of
    file" — used by the streaming planner, which keys offsets on whole
    files and must not care how large each file is."""

    def __init__(self, path: str, start: int = 0, n: int = -1):
        self.path = path
        self.start = start
        self.n = n


class FixedWidthReader(DataSourceReader):
    """Batch reader.  Each partition reads its aligned byte range in
    one ``read()``, reshapes it as an (n_records, width) uint8 matrix,
    and decodes every field with numpy kernels — hex-nibble arithmetic
    for int64/float64 bit patterns, one masked-flatten for strings —
    yielding ``pyarrow.RecordBatch`` directly (the Spark 4 DataSource
    API's Arrow fast path, same idiom as the x6 mapInArrow surface).
    No per-row Python runs; pushed filters drop rows with one Arrow
    mask before the batch crosses into the JVM.

    Files LARGER than ``splitSizeBytes`` are split into aligned
    record-range partitions (record width is fixed — offsets are
    exact), so one huge export file scans with full cluster
    parallelism instead of 1-wide; small files stay one partition
    each, exactly like Spark's native file sources."""

    def __init__(self, options: dict, schema: StructType):
        self.path = options["path"]
        self.spec = _parse_spec(options, schema)
        self.names = [f.name for f in schema.fields]
        self.split_bytes = int(options.get("splitSizeBytes", str(32 << 20)))
        self.record_width = sum(w for _, w in self.spec)
        self.span = self.record_width + 1  # + newline
        # Filters accepted by pushFilters, applied inside read() so
        # Spark's own Filter node can drop them from the plan.
        self.pushed: list[Filter] = []

    # -- filter pushdown (Spark 4.1 DataSourceReader.pushFilters) -----

    _PUSHABLE = (
        EqualTo,
        EqualNullSafe,
        GreaterThan,
        GreaterThanOrEqual,
        LessThan,
        LessThanOrEqual,
        In,
        IsNull,
        IsNotNull,
        StringStartsWith,
        StringEndsWith,
        StringContains,
    )

    def _filter_supported(self, f: Filter) -> bool:
        if not isinstance(f, self._PUSHABLE):
            return False
        attr = f.attribute
        if len(attr) != 1 or attr[0] not in self.names:
            return False  # nested paths can't exist in a flat record
        return True

    def pushFilters(self, filters):
        """Accept the conjunctive filters this source can evaluate
        (comparisons / IN / null tests on top-level fields) and yield
        the rest back to Spark.  Accepted filters are applied
        VECTORIZED inside ``read()`` — rows are dropped before the
        Arrow batch crosses into the JVM, so a selective scan ships
        (and deserializes, and processes upstream) only matching rows.
        A fixed-width record must be byte-decoded either way (no skip
        index), so the win is transfer + downstream volume, not IO —
        exactly what the API's contract promises for a Python source.
        Spark REMOVES accepted filters from its own plan, which makes
        correctness observable: the s25 oracle hash-fails if this
        source keeps or drops one wrong row."""
        for f in filters:
            if self._filter_supported(f):
                self.pushed.append(f)
            else:
                yield f

    def _filter_mask(self, batch):
        """AND-combined pyarrow boolean mask for the pushed filters
        over a decoded RecordBatch (SQL semantics: a comparison with
        NULL is null → row dropped by ``filter``)."""
        import pyarrow.compute as pc

        mask = None
        for f in self.pushed:
            col = batch.column(f.attribute[0])
            if isinstance(f, IsNull):
                m = pc.is_null(col)
            elif isinstance(f, IsNotNull):
                m = pc.is_valid(col)
            elif isinstance(f, EqualNullSafe):
                m = (
                    pc.is_null(col)
                    if f.value is None
                    else pc.and_kleene(pc.is_valid(col), pc.equal(col, f.value))
                )
            elif isinstance(f, EqualTo):
                m = pc.equal(col, f.value)
            elif isinstance(f, GreaterThan):
                m = pc.greater(col, f.value)
            elif isinstance(f, GreaterThanOrEqual):
                m = pc.greater_equal(col, f.value)
            elif isinstance(f, LessThan):
                m = pc.less(col, f.value)
            elif isinstance(f, LessThanOrEqual):
                m = pc.less_equal(col, f.value)
            elif isinstance(f, StringStartsWith):
                m = pc.starts_with(col, pattern=f.value)
            elif isinstance(f, StringEndsWith):
                m = pc.ends_with(col, pattern=f.value)
            elif isinstance(f, StringContains):
                m = pc.match_substring(col, pattern=f.value)
            else:  # In
                import pyarrow as pa

                m = pc.is_in(col, value_set=pa.array(list(f.value), col.type))
            mask = m if mask is None else pc.and_kleene(mask, m)
        return mask

    def list_files(self) -> list[str]:
        return [
            os.path.join(self.path, f)
            for f in sorted(os.listdir(self.path))
            if f.endswith(".txt") and not f.startswith("_")
        ]

    def _n_records(self, path: str) -> int:
        size = os.path.getsize(path)
        # tolerate a missing trailing newline on the final record, but
        # refuse any OTHER misalignment loudly: a file with stray
        # trailing bytes (truncated copy, concatenated garbage) would
        # otherwise shift every subsequent field decode silently
        # (ADVICE r7 item 1).
        if size % self.span not in (0, self.span - 1):
            raise ValueError(
                f"{path}: size {size} is not a multiple of the record "
                f"span {self.span} (± the final newline) — file is "
                "truncated or not in this fixed-width layout"
            )
        return (size + 1) // self.span

    def partitions(self):
        out = []
        per_split = max(1, self.split_bytes // self.span)
        for path in self.list_files():
            n = self._n_records(path)
            if n * self.span <= self.split_bytes:
                out.append(_FilePartition(path))
                continue
            for start in range(0, n, per_split):
                out.append(_FilePartition(path, start, min(per_split, n - start)))
        return out

    def _read_range(self, partition: _FilePartition) -> tuple[bytes, int]:
        """The partition's aligned byte blob + its record count,
        newline-padded so length is always n * span."""
        n_total = self._n_records(partition.path)
        start = partition.start
        n = n_total - start if partition.n < 0 else min(partition.n, n_total - start)
        if n <= 0:
            return b"", 0
        with open(partition.path, "rb") as fh:
            fh.seek(start * self.span)
            blob = fh.read(n * self.span)
        if len(blob) == n * self.span - 1:  # no newline after last record
            blob += b"\n"
        return blob, n

    def read(self, partition: _FilePartition) -> Iterator:
        blob, n = self._read_range(partition)
        if n == 0:
            return
        batch = _decode_batch_arrow(blob, n, self.span, self.spec, self.names)
        if self.pushed:
            batch = batch.filter(self._filter_mask(batch))
        yield batch


def _hex_nibbles(mat):
    """uint8 matrix of ASCII hex chars → uint64 nibble values.
    Lowercase hex only (both ``format(..., 'x')`` and ``bytes.hex()``
    emit lowercase — the writer's contract)."""
    import numpy as np

    return np.where(mat >= 97, mat - 87, mat - 48).astype(np.uint64)


def _hex_u64(mat):
    """(n, 16) uint8 hex-char matrix → uint64 values (big-endian hex,
    i.e. ``int(s, 16)``), fully vectorized."""
    import numpy as np

    nib = _hex_nibbles(mat)
    u = np.zeros(len(mat), dtype=np.uint64)
    for i in range(16):
        u = (u << np.uint64(4)) | nib[:, i]
    return u


def _decode_batch_arrow(blob: bytes, n: int, span: int, spec, names):
    """One partition's byte range → one ``pyarrow.RecordBatch``.
    All decode arithmetic is numpy-vectorized; the only per-row work
    anywhere is none at all — string data is extracted with a single
    boolean masked-flatten and handed to Arrow as raw buffers."""
    import numpy as np
    import pyarrow as pa

    mat = np.frombuffer(blob, dtype=np.uint8).reshape(n, span)
    # Framing + alphabet validation (ADVICE r7 items 1 and 4), both
    # vectorized one-pass LUT lookups so the decode stays fast:
    # every record must end in '\n', and every data byte must be
    # lowercase hex, the ' ' string pad, or the 'Z' null fill —
    # anything else (uppercase hex from a hand-edited file, corrupt
    # bytes) previously decoded to garbage NUMBERS without error
    # because _hex_nibbles maps arbitrary bytes to arbitrary values.
    if not (mat[:, span - 1] == ord("\n")).all():
        bad = int(np.argmin(mat[:, span - 1] == ord("\n")))
        raise ValueError(
            f"record {bad} does not end in a newline at span {span} — "
            "misaligned or corrupt fixed-width input"
        )
    ok = np.zeros(256, dtype=bool)
    ok[[ord(c) for c in "0123456789abcdef Z"]] = True
    body = mat[:, : span - 1]
    valid = ok[body]
    if not valid.all():
        r, c = np.unravel_index(int(np.argmin(valid)), valid.shape)
        raise ValueError(
            f"invalid byte 0x{int(body[r, c]):02x} at record {int(r)} "
            f"col {int(c)} — not lowercase hex / pad / null-fill "
            "(the writer contract is lowercase hex)"
        )
    arrays = []
    off = 0
    Z = ord("Z")
    for t, w in spec:
        col = mat[:, off : off + w]
        off += w
        nulls = col[:, 0] == Z
        any_null = bool(nulls.any())
        mask = nulls if any_null else None
        if t in ("bigint", "long"):
            u = _hex_u64(np.where(nulls[:, None], ord("0"), col))
            arrays.append(pa.array(u.view(np.int64), pa.int64(), mask=mask))
        elif t == "double":
            u = _hex_u64(np.where(nulls[:, None], ord("0"), col))
            # int(hex, 16) IS the big-endian bit pattern; reinterpreting
            # the uint64 value as float64 equals struct.unpack(">d")
            arrays.append(pa.array(u.view(np.float64), pa.float64(), mask=mask))
        else:
            safe = np.where(nulls[:, None], ord(" "), col)
            # hex length per row = count of non-pad chars (pad is ' ',
            # which is never a hex digit); always even by construction
            nbytes = (safe != ord(" ")).sum(axis=1) // 2
            hi = _hex_nibbles(safe[:, 0::2])
            lo = _hex_nibbles(safe[:, 1::2])
            bytemat = (hi * np.uint64(16) + lo).astype(np.uint8)
            keep = np.arange(w // 2)[None, :] < nbytes[:, None]
            data = bytemat[keep].tobytes()
            offsets = np.zeros(n + 1, dtype=np.int32)
            np.cumsum(nbytes, out=offsets[1:])
            validity = None
            if any_null:
                validity = pa.py_buffer(np.packbits(~nulls, bitorder="little").tobytes())
            arrays.append(
                pa.StringArray.from_buffers(
                    n,
                    pa.py_buffer(offsets.tobytes()),
                    pa.py_buffer(data),
                    validity,
                    -1 if any_null else 0,
                )
            )
    return pa.RecordBatch.from_arrays(arrays, names=list(names))


class FixedWidthDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return FORMAT_NAME

    def schema(self):
        return self.options["ddl"]

    def reader(self, schema: StructType) -> FixedWidthReader:
        return FixedWidthReader(self.options, schema)

    def streamReader(self, schema: StructType) -> "FixedWidthStreamReader":
        return FixedWidthStreamReader(self.options, schema)

    def writer(self, schema: StructType, overwrite: bool) -> "FixedWidthWriter":
        return FixedWidthWriter(self.options, schema, overwrite)

    def streamWriter(self, schema: StructType, overwrite: bool) -> "FixedWidthStreamWriter":
        return FixedWidthStreamWriter(self.options, schema, overwrite)


def register(spark) -> None:
    spark.dataSource.register(FixedWidthDataSource)


def _u64_to_hex_matrix(u, nulls):
    """(n,) uint64 values → (n, 16) lowercase-hex ASCII uint8 matrix,
    'Z'-filled where ``nulls``.  Inverse of the reader's _hex_u64."""
    import numpy as np

    n = len(u)
    out = np.empty((n, 16), dtype=np.uint8)
    for j in range(16):
        nib = ((u >> np.uint64(60 - 4 * j)) & np.uint64(0xF)).astype(np.uint8)
        out[:, j] = np.where(nib > 9, nib + 87, nib + 48)
    if nulls is not None and nulls.any():
        out[nulls] = ord("Z")
    return out


def _string_to_hex_matrix(col, w: int):
    """Arrow string array → (n, w) space-padded UTF-8-hex ASCII matrix,
    'Z'-filled where null — the exact inverse of the reader's
    masked-flatten decode, built from the array's raw offset/data
    buffers so no per-row Python runs."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    n = len(col)
    nulls = np.asarray(col.is_null())
    filled = pc.fill_null(col, "")
    # normalize to a zero-copy view with explicit offset accounting
    buf_validity, buf_offsets, buf_data = filled.buffers()
    raw_off = np.frombuffer(buf_offsets, dtype=np.int32)
    off = raw_off[filled.offset : filled.offset + n + 1].astype(np.int64)
    data = np.frombuffer(buf_data, dtype=np.uint8)[off[0] : off[-1]]
    off = off - off[0]
    lens = np.diff(off)
    if (2 * lens > w).any():
        bad = int(np.argmax(2 * lens > w))
        raise ValueError(
            f"string field overflows declared hex width {w}: row {bad}"
        )
    # hex-encode the WHOLE data buffer in one C call, then scatter:
    # row i's hex chars occupy [2*off[i], 2*off[i+1]), contiguous in
    # row order — the same keep-mask shape the reader flattens with.
    hex_all = np.frombuffer(bytes(data.tobytes().hex(), "ascii"), dtype=np.uint8)
    out = np.full((n, w), ord(" "), dtype=np.uint8)
    keep = np.arange(w)[None, :] < (2 * lens)[:, None]
    out[keep] = hex_all
    if nulls.any():
        out[nulls] = ord("Z")
    return out


def _encode_matrix(b, spec: list[tuple[str, int]]):
    """One Arrow RecordBatch → the (n, record_width) uint8 ASCII matrix
    of its fixed-width encoding (no newlines), fully numpy-vectorized —
    the shared kernel under ``encode_lines_fn`` (mapInArrow write
    path) and the DataSource writers (which append the newline column
    and write bytes straight to the staged file)."""
    import numpy as np

    n = b.num_rows
    mats = []
    for (t, w), col in zip(spec, b.columns):
        nulls = np.asarray(col.is_null())
        if t in ("bigint", "long"):
            u = np.asarray(col.fill_null(0), dtype=np.int64).view(np.uint64)
            mats.append(_u64_to_hex_matrix(u, nulls))
        elif t == "double":
            # fill_null keeps NaN distinct from null (Arrow semantics —
            # the reason this kernel is Arrow, not pandas)
            u = np.asarray(col.fill_null(0.0), dtype=np.float64).view(np.uint64)
            mats.append(_u64_to_hex_matrix(u, nulls))
        else:
            mats.append(_string_to_hex_matrix(col, w))
    return np.hstack(mats) if mats else np.empty((n, 0), dtype=np.uint8)


def encode_lines_fn(spec: list[tuple[str, int]]):
    """Build a ``mapInArrow`` kernel turning rows into fixed-width lines
    (the WRITE side, used by the declared round-trip query and tests):
    each Arrow RecordBatch becomes one single-column ('value')
    RecordBatch of lines encoded by ``_encode_matrix``, with no per-row
    Python.  Arrow, not pandas, deliberately: a pandas float64 column
    renders BOTH null and NaN as NaN, which would conflate a missing
    balance with a NaN balance — Arrow arrays preserve None vs
    float('nan').  ``spec`` mirrors the reader: (type,
    hex_width_for_strings)."""

    def fn(batches):
        import numpy as np
        import pyarrow as pa

        for b in batches:
            matrix = _encode_matrix(b, spec)
            n, width = matrix.shape
            offsets = (np.arange(n + 1, dtype=np.int32) * width).tobytes()
            lines = pa.StringArray.from_buffers(
                n, pa.py_buffer(offsets), pa.py_buffer(matrix.tobytes()), None, 0
            )
            yield pa.RecordBatch.from_arrays([lines], names=["value"])

    return fn


class FixedWidthStreamReader(DataSourceStreamReader):
    """Streaming read of a fixed-width directory: the OFFSET is the
    count of files consumed (files ordered by name — the writer's
    part-file naming makes that the ingest order), each micro-batch
    plans one InputPartition per newly-visible file, and `read` reuses
    the batch decoder verbatim — the batch/streaming parity Spark's
    own file source has, for a custom Python connector.

    ``filesPerTrigger`` rate-limits how many files each call to
    ``latestOffset`` exposes (the maxFilesPerTrigger analog; 0 =
    everything at once).  Offsets are checkpointed by the engine; a
    restarted query resumes from the committed file count, so replay
    is exactly-once per file.
    """

    def __init__(self, options: dict, schema: StructType):
        self._batch = FixedWidthReader(options, schema)
        self._per_trigger = int(options.get("filesPerTrigger", "0"))

    def initialOffset(self) -> dict:
        return {"n_files": 0}

    def latestOffset(self) -> dict:
        n = len(self._batch.list_files())
        if self._per_trigger > 0:
            cur = getattr(self, "_exposed", 0)
            n = min(cur + self._per_trigger, n)
        self._exposed = n
        return {"n_files": n}

    def partitions(self, start: dict, end: dict):
        # Checkpoint-restart safety.  A restarted reader's pacing state
        # (_exposed/_floor) restarts at 0, and the engine may call
        # latestOffset BEFORE the reader has seen any committed
        # position (it can even do so on a fresh query, before
        # initialOffset) — so after a committed restart the first paced
        # latestOffset can REGRESS behind the checkpoint (e.g. report 2
        # while 4 files are committed).  Offsets are opaque JSON to the
        # engine, so it simply plans batches from whatever it reports;
        # a regressed report would make a later batch's [start, end)
        # range cover files that were ALREADY committed before the
        # restart.  The exactly-once guard therefore lives HERE, where
        # the committed position is always visible: every start/commit
        # the engine hands us raises a monotone _floor, and a
        # partition range never re-emits files below it.  Net restart
        # behavior: at most one empty micro-batch while the pace
        # catches up, zero replayed files.  Pinned by
        # tests/test_streaming.py::test_s21_checkpoint_restart_resumes.
        self._floor = max(getattr(self, "_floor", 0), start["n_files"])
        self._exposed = max(getattr(self, "_exposed", 0), start["n_files"])
        files = self._batch.list_files()
        lo = max(start["n_files"], self._floor)
        hi = end["n_files"]
        return [_FilePartition(p) for p in files[lo:hi]]

    def read(self, partition: _FilePartition) -> Iterator:
        return self._batch.read(partition)

    def commit(self, end: dict) -> None:
        # Monotonic floors for pacing and replay protection (belt to
        # partitions()'s braces — commit may fire without a subsequent
        # partitions call before the next latestOffset on some trigger
        # cadences).
        self._exposed = max(getattr(self, "_exposed", 0), end["n_files"])
        self._floor = max(getattr(self, "_floor", 0), end["n_files"])


class _StagedFile(WriterCommitMessage):
    """Commit message: the staged (invisible) file a task wrote plus its
    row count.  ``staged`` is None for empty partitions (nothing to
    publish).  Plain attributes, picklable by construction."""

    def __init__(self, staged, n_rows: int):
        self.staged = staged
        self.n_rows = n_rows


def _write_staged(path: str, spec, iterator) -> _StagedFile:
    """Executor-side body shared by the batch and streaming writers:
    encode every incoming Arrow RecordBatch with the vectorized matrix
    kernel and append it (newline-framed) to ONE staged file whose name
    starts with ``_`` — the reader's ``list_files`` filter makes staged
    data invisible until the driver-side commit renames it, which is
    what gives the writer its all-or-nothing visibility contract.
    Staged names embed the task attempt id (unique across the app), so
    retried/speculative attempts can never collide."""
    import uuid as _uuid

    import numpy as np
    from pyspark import TaskContext

    ctx = TaskContext.get()
    tag = (
        f"{ctx.partitionId():05d}-{ctx.taskAttemptId()}"
        if ctx is not None
        else _uuid.uuid4().hex[:16]
    )
    staged = os.path.join(path, f"_staged-{tag}.txt")
    n = 0
    with open(staged, "wb") as fh:
        for b in iterator:
            if b.num_rows == 0:
                continue
            matrix = _encode_matrix(b, spec)
            lines = np.hstack(
                [matrix, np.full((len(matrix), 1), ord("\n"), dtype=np.uint8)]
            )
            fh.write(lines.tobytes())
            n += b.num_rows
    if n == 0:
        os.remove(staged)
        return _StagedFile(None, 0)
    return _StagedFile(staged, n)


class FixedWidthWriter(DataSourceArrowWriter):
    """Batch writer — completes the connector's fourth quadrant
    (read/batch + read/stream + write/stream done elsewhere), so
    ``df.write.format("pmr_fixedwidth")`` works like any built-in sink
    (VERDICT r7 task 2).

    Arrow path deliberately (``DataSourceArrowWriter``): each task
    receives ``pyarrow.RecordBatch`` objects and encodes them with the
    same numpy matrix kernel the reader decodes with — no per-row
    Python anywhere on the write path.

    Commit protocol (the part a file sink must get right): tasks write
    to ``_staged-*`` names the reader cannot see; ``commit`` runs ONCE
    on the driver after every task succeeded and renames staged files
    to ``part-NNNNN-<job>.txt`` (for overwrite mode it first removes
    the previously-visible generation); ``abort`` deletes the staged
    files.  A failed or half-finished job therefore never leaves a
    partially-visible dataset — readers see the old generation or the
    new one, nothing in between.  Same-filesystem note: rename-commit
    assumes executors and driver share the target filesystem (true for
    local[N] and shared mounts; an object-store deployment would stage
    to a prefix and commit via manifest, same protocol shape)."""

    def __init__(self, options: dict, schema: StructType, overwrite: bool):
        import uuid as _uuid

        self.path = options["path"]
        self.spec = _parse_spec(options, schema)
        self.overwrite = overwrite
        self.job_id = _uuid.uuid4().hex[:12]
        os.makedirs(self.path, exist_ok=True)

    def write(self, iterator) -> _StagedFile:
        return _write_staged(self.path, self.spec, iterator)

    def _cleanup_staged(self) -> None:
        # Remove every leftover staged file (failed/speculative
        # attempts whose messages never reached the driver).
        for f in os.listdir(self.path):
            if f.startswith("_staged-"):
                try:
                    os.remove(os.path.join(self.path, f))
                except FileNotFoundError:
                    pass

    def commit(self, messages) -> None:
        staged = [m.staged for m in messages if m is not None and m.staged]
        if self.overwrite:
            for f in os.listdir(self.path):
                if f.endswith(".txt") and not f.startswith("_"):
                    os.remove(os.path.join(self.path, f))
        for i, s in enumerate(staged):
            os.replace(s, os.path.join(self.path, f"part-{i:05d}-{self.job_id}.txt"))
        self._cleanup_staged()

    def abort(self, messages) -> None:
        self._cleanup_staged()


class FixedWidthStreamWriter(DataSourceStreamArrowWriter):
    """Streaming sink — ``df.writeStream.format("pmr_fixedwidth")``.

    Per micro-batch: tasks stage exactly like the batch writer;
    ``commit(messages, batchId)`` renames to DETERMINISTIC names
    ``part-<batchId>-NNNNN.txt`` after first deleting any existing
    files of that batchId — so a batch REPLAYED after a crash between
    sink commit and checkpoint commit overwrites its own output
    instead of duplicating it (idempotent-under-replay, the same
    recipe the t8s foreachBatch sink uses with partition overwrite).
    ``abort`` deletes that batch's staged files.  Batch-id ordering in
    the final names also preserves ingest order for the streaming
    reader, whose offsets are name-sorted file counts."""

    def __init__(self, options: dict, schema: StructType, overwrite: bool):
        self.path = options["path"]
        self.spec = _parse_spec(options, schema)
        os.makedirs(self.path, exist_ok=True)

    def write(self, iterator) -> _StagedFile:
        return _write_staged(self.path, self.spec, iterator)

    def commit(self, messages, batchId: int) -> None:
        prefix = f"part-{batchId:08d}-"
        for f in os.listdir(self.path):
            if f.startswith(prefix) and f.endswith(".txt"):
                os.remove(os.path.join(self.path, f))
        staged = [m.staged for m in messages if m is not None and m.staged]
        for i, s in enumerate(staged):
            os.replace(s, os.path.join(self.path, f"{prefix}{i:05d}.txt"))

    def abort(self, messages, batchId: int) -> None:
        for m in messages:
            if m is not None and m.staged:
                try:
                    os.remove(m.staged)
                except FileNotFoundError:
                    pass


def supplier_write_frame(spark, sf_dir: str):
    """(supplier DataFrame in the fixed-width column layout, string hex
    width ``w`` sized from the data) — shared by the mapInArrow helper
    below and the s23 writer-API round-trip query."""
    import pyspark.sql.functions as F

    from projectmapreduce_spark.io import scan

    sup = scan(spark, sf_dir, "supplier").select(
        "s_suppkey",
        "s_name",
        F.col("s_nationkey").cast("long").alias("s_nationkey"),
        "s_acctbal",
    )
    w = (
        sup.agg(F.max(F.length(F.encode(F.coalesce("s_name", F.lit("")), "utf-8"))))
        .collect()[0][0]
        or 1
    ) * 2
    return sup, w


def supplier_fixture_files(sf_dir: str) -> int:
    """Data-sized file count for the fixed-width supplier fixture
    (round 12, guide §6 file sizing): ~8 MiB of source parquet per
    text file, clamped to [2, 64].  The old constant 8 wrote a 1000-row
    / 85 KB fixture as 8 files at sf0.1 — eight Python reader
    invocations and eight writer tasks pricing worker spin-up, not the
    connector — while at a 100 TB scale a constant would under-split.
    Metadata only (no job): sizes the source parquet on disk.  Floor 2
    keeps the multi-file planning path (one InputPartition per file)
    exercised on every tier.  Every data file of the source counts,
    partition subdirectories included; entries with a ``.``/``_`` path
    segment (``_SUCCESS``, ``.crc``, ``_temporary``) do not."""
    from projectmapreduce_spark.io import _files_fingerprint

    src = os.path.join(sf_dir, "supplier.parquet")
    try:
        files = _files_fingerprint(src)
    except OSError:
        return 8
    n_bytes = sum(
        size
        for rel, size, _mtime, _ino in files
        if not any(seg.startswith((".", "_")) for seg in rel.split(os.sep))
    )
    return int(max(2, min(64, 1 + n_bytes // (8 << 20))))


def write_supplier_fixed_width(
    spark, sf_dir: str, path: str, n_files: int | None = None
):
    """Write the supplier table as ``n_files`` fixed-width text files
    (shared by the s20 batch and s21 streaming round-trip queries and
    their tests; ``n_files`` defaults to the data-sized
    :func:`supplier_fixture_files`).  Returns the data-sized string
    hex width ``w``; the read spec is ``f"long,string:{w},long,double"``
    with ddl ``s_suppkey bigint, s_name string, s_nationkey bigint,
    s_acctbal double``."""
    if n_files is None:
        n_files = supplier_fixture_files(sf_dir)
    sup, w = supplier_write_frame(spark, sf_dir)
    spec = [("long", 0), ("string", w), ("long", 0), ("double", 0)]
    (
        sup.repartition(n_files)
        .mapInArrow(encode_lines_fn(spec), "value string")
        .write.mode("overwrite")
        .text(path)
    )
    return w


def ensure_supplier_fixed_width(
    spark, sf_dir: str, path: str, n_files: int | None = None
):
    """Idempotent wrapper around :func:`write_supplier_fixed_width`
    (VERDICT r8 task 3): s25's bench cost was dominated by re-WRITING
    the identical fixture on every iteration, so the pushdown scan —
    the thing s25 exists to price — was noise inside a fixed write
    cost.  A marker file records (sf_dir, n_files, w); when it matches,
    the on-disk fixture is reused and only the pushed scan runs.  The
    marker is written AFTER a successful write, so a torn earlier write
    (no marker) is simply redone.  Local-filesystem scratch only — on a
    real cluster the fixture is a persisted table and this question
    disappears."""
    import json

    if n_files is None:
        n_files = supplier_fixture_files(sf_dir)
    marker = os.path.join(path, "_PMR_FIXTURE.json")
    # The key includes a cheap data fingerprint of the source parquet
    # (ADVICE r9): (sf_dir, n_files) alone reuses a STALE fixture if
    # the parquet under sf_dir is regenerated in place, producing a
    # confusing false verification failure (engine reads old fixture,
    # oracle reads fresh parquet).  The io schema memo's per-file
    # (path, size, mtime_ns, inode) entries change on any rewrite
    # without reading data bytes.
    from projectmapreduce_spark.io import _files_fingerprint

    try:
        fingerprint = _files_fingerprint(os.path.join(sf_dir, "supplier.parquet"))
    except OSError:
        fingerprint = ()
    key = {
        "sf_dir": os.path.abspath(sf_dir),
        "n_files": n_files,
        "src_fingerprint": [list(t) for t in fingerprint],
    }
    try:
        with open(marker) as fh:
            m = json.load(fh)
        if all(m.get(k) == v for k, v in key.items()):
            return m["w"]
    except (OSError, ValueError, KeyError):
        pass
    w = write_supplier_fixed_width(spark, sf_dir, path, n_files)
    with open(marker, "w") as fh:
        json.dump({**key, "w": w}, fh)
    return w


SUPPLIER_DDL = "s_suppkey bigint, s_name string, s_nationkey bigint, s_acctbal double"
