"""Spark DataFrame encode/decode pipelines.

Spark-first design (SURVEY.md §1.4, §4):
* the ONLY Python in the hot path is Arrow-batched ``mapInArrow`` calling the
  codec core (C kernels over flat buffers) — token list-columns and packed
  binary columns move as RAW ARROW BUFFERS (one values buffer + offsets per
  batch), so there is no per-row Python and no per-row object
  materialization at all;
* salt-based repartitioning of the ENCODED table on
  ``pmod(xxhash64(doc_id, seg_id), shards)`` (:func:`salt_encoded`)
  rebalances output while shuffling compressed bytes (north rule: explicit
  partitioning/skew handling);
* one encode core: every encoder task (:func:`encode`,
  :func:`encode_files`, and the Iceberg writer's fused stage) runs
  :func:`_encode_task` — flatten, cut rows longer than the split threshold
  into segments (:func:`_split_flat`), encode.  Splitting bounds a
  segment's size (and so a payload cell and a decode buffer); it does not
  rebalance tasks, since a document's segments are encoded in the task
  that read it.  Blocks are independent given per-block inits
  (SURVEY.md §3.2), so segment encodes are bit-compatible with whole-row
  encodes;
* one decoder, one reassembly: every encoded read is a DataFrame
  (``iceberg.read_table``, or ``spark.read.parquet`` for plain
  directories) handed to :func:`decode`, which is lazy (calling it
  starts no Spark job) and whose one stitch reassembles documents
  straight over the scan when ``read_table`` vouches that the writer
  stored every document's segments as whole runs, and otherwise after
  shuffling the COMPRESSED segments by doc_id and sorting each
  partition;
* metrics are plain DataFrame aggregations over the encoded output plus
  per-task encode timings carried as constant batch columns — queryable,
  not log-scraped.

Schema of the encoded table:
    doc_id, source, seg_id, n_tok, codec, widths, inits, payload, pid, enc_ns,
    content_hash
"""

from __future__ import annotations

import hashlib
import heapq
import os
import tempfile
import time
import weakref

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from . import blocks, codecs, kernels
from .codecs.auto import choose_codec_flat

_TYPES = {"string": T.StringType(), "int": T.IntegerType(),
          "long": T.LongType(), "boolean": T.BooleanType(),
          "binary": T.BinaryType(), "array<int>": T.ArrayType(T.IntegerType())}


def _schema(ddl: str) -> T.StructType:
    """A flat ``"name type, ..."`` schema as a StructType, built in Python:
    a DDL string handed to ``mapInArrow`` is parsed by the JVM on every
    plan build, a few py4j round trips each time."""
    return T.StructType([T.StructField(n, _TYPES[t]) for n, t in
                         (f.split() for f in ddl.split(", "))])


ENCODED_SCHEMA = _schema(
    "doc_id string, source string, seg_id int, n_tok int, codec string, "
    "widths binary, inits binary, payload binary, pid int, enc_ns long, "
    "content_hash binary")
DECODED_SCHEMA = _schema(
    "doc_id string, source string, seg_id int, tokens array<int>, n_tok int")
_STITCHED_SCHEMA = _schema(
    "doc_id string, source string, tokens array<int>, n_tok int")
# the compressed-domain operators' outputs
_LOOKUP_SCHEMA = _schema("doc_id string, seg_id int, idx int, val int")
_SEARCH_SCHEMA = _schema("doc_id string, seg_id int, n_tok int, idx int")
_RANGE_SCHEMA = _schema(
    "doc_id string, seg_id int, n_tok int, n_in_range int")
_CONTAINS_SCHEMA = _schema("doc_id string, seg_id int")
_MINMAX_SCHEMA = _schema(
    "doc_id string, seg_id int, n_tok int, min_tok int, max_tok int")
_HASH_SCHEMA = _schema("doc_id string, seg_id int, h string")
# the columns every reader of encoded rows projects (decode adds source
# second), with one selectExpr: one py4j call, where select(*names) makes
# one per name.  Its columns 2-6 are what _EncodedBatch.from_columns takes
ENCODED_COLS = ("doc_id", "seg_id", "n_tok", "codec", "widths", "inits",
                "payload")

DEFAULT_SPLIT_THRESHOLD = 1 << 16  # tokens per segment
# encode(split_threshold=None): a Spark array holds at most 2**31 - 1
# elements, so no row is longer
_NO_SPLIT = np.iinfo(np.int32).max
# rows per pyarrow batch in encode_files: 2048 rows ≈ 7 MB of tokens keeps
# the per-thread working set near the L3 share at full thread count
# (measured +7-10% over 8192 at 8 and 32 cores; 1024 regresses)
_ENCODE_BATCH_ROWS = 2048
# encode_files' work units (_plan_units): an input of at most
# _UNITS_PER_CORE files per core, none over _WHOLE_FILE_BYTES, runs whole
# files in one task per core; a larger one runs _SLICE_BYTES slices of
# its files in up to _UNITS_PER_CORE tasks per core
_UNITS_PER_CORE = 4
_WHOLE_FILE_BYTES = 256 << 20
_SLICE_BYTES = 128 << 20
_BLOCK_MODES = {"bitpack": "plain", "for": "for", "d1": "d1"}


def _scratch_dir() -> str:
    """Shuffle/spill scratch directory.

    tmpfs (/dev/shm) is used only when it currently has generous headroom
    (≥8 GiB free) — the engine's plans shuffle compressed bytes (or
    nothing), so scratch stays small, but a RAM-backed dir with no headroom
    would turn a big spill into ENOSPC/OOM instead of a slow-disk
    degradation.  ``SIMDCOMP_SCRATCH`` overrides the choice entirely, and
    the tmpfs path is per-uid so concurrent users never share state.  On a
    real cluster this maps to the standard NVMe/ramdisk local-dir setup."""
    env = os.environ.get("SIMDCOMP_SCRATCH")
    if env:
        return env
    shm = "/dev/shm"
    if os.path.isdir(shm):
        try:
            st = os.statvfs(shm)
            if st.f_bavail * st.f_frsize >= 8 << 30:
                return os.path.join(
                    shm, f"simdcomp_spark_scratch_{os.getuid()}")
        except OSError:
            pass
    return tempfile.gettempdir()


def get_spark(app: str = "simdcomp_spark", cores: int | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    """The engine's SparkSession: ``local[cores]`` (``cores`` defaults to
    ``$SPARK_GRAFT_CPUS``, else the CPUs this process may run on) with the
    settings below.  Under spark-submit (the JVM gateway already exists,
    ``PYSPARK_GATEWAY_PORT`` is set) the submitted ``--master`` and
    ``--driver-memory`` stand; every other setting still applies."""
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "0")) \
        or len(os.sched_getaffinity(0))
    shuffle_partitions = shuffle_partitions or cores
    builder = SparkSession.builder
    if "PYSPARK_GATEWAY_PORT" not in os.environ:
        builder = builder.master(f"local[{cores}]").config(
            "spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "48g"))
    return (
        builder
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 2048-row Arrow batches keep the per-thread token working set near
        # the L3 share at full thread count (+27-33% on the scan paths,
        # +7-10% on the fused paths vs 8192 on this host; 1024 regresses)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        # keep big numpy buffers on the Python workers' sbrk heap so pages
        # stay faulted across batches/tasks (first-touch page faults cost
        # ~50ms/MB in this kernel; mmap'd buffers are returned to the OS on
        # free and re-fault every batch)
        .config("spark.executorEnv.MALLOC_MMAP_THRESHOLD_", "2147483647")
        .config("spark.executorEnv.MALLOC_TRIM_THRESHOLD_", "2147483647")
        # one core per task: pyarrow's worker-side compute/IO pools
        # (parquet decode in the fused paths) default to ALL host cores
        # per task — on a saturated executor that is pure oversubscription,
        # and it silently inflates low-parallelism throughput (a "2-core"
        # run decoding parquet with 32 arrow threads), corrupting scaling
        # measurements.
        .config("spark.executorEnv.OMP_NUM_THREADS", "1")
        .config("spark.executorEnv.ARROW_IO_THREADS", "2")
        # a reused worker keeps its imports and the stat-guarded zip-import
        # cache that importing simdcomp_spark installs in it (see
        # simdcomp_spark._install_zip_import_cache): PySpark's per-task
        # importlib.invalidate_caches() then costs a stat per archive
        # instead of re-parsing pyspark.zip and the Spark jar
        .config("spark.python.worker.reuse", "true")
        # PySpark's call-site capture only feeds error messages, at ~5
        # py4j calls per decorated pyspark.sql.functions call
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.ui.enabled", "false")
        # shuffle/spill scratch on tmpfs when it has headroom (see
        # _scratch_dir): the engine's plans shuffle compressed bytes (or
        # nothing), so scratch stays small, and the shared sandbox disk is
        # co-tenant-thrashed (identical shuffle queries measured 1-14 s
        # depending on the window).
        .config("spark.local.dir", _scratch_dir())
        .getOrCreate()
    )


# ---------------------------------------------------------------------------
# Arrow buffer helpers (zero-copy list/binary column access)
# ---------------------------------------------------------------------------

def _list_to_flat(col: pa.Array) -> tuple[np.ndarray, np.ndarray]:
    """list<int32> column → (flat int32 values in row order, row lengths).

    The offsets are read straight from the Arrow buffer:
    ``col.offsets.to_numpy()`` routes through the masked-array conversion
    (the offsets child inherits the list's validity in pyarrow), which
    lazily imports pandas and copies — measured ~1000x slower than the
    buffer view on fresh batches in the fused scan loop.  The offset
    width follows the column type: the fused scan reads user parquet
    whose Arrow schema may restore large_list (int64 offsets) — reading
    those as int32 would silently corrupt every row length."""
    bufs = col.buffers()
    odt = np.int64 if pa.types.is_large_list(col.type) else np.int32
    off = np.frombuffer(bufs[1], dtype=odt)[
        col.offset: col.offset + len(col) + 1].astype(np.int64)
    start, end = (int(off[0]), int(off[-1])) if off.size else (0, 0)
    # convert only this array's own values: a sliced array's child may
    # hold nulls in other rows, which would turn the whole child float
    flat = col.values.slice(start, end - start).to_numpy(zero_copy_only=False)
    return flat, np.diff(off)


def _binary_to_flat(col: pa.Array) -> tuple[np.ndarray, np.ndarray]:
    """binary column → (flat uint8 data in row order, row lengths)."""
    bufs = col.buffers()
    off = np.frombuffer(bufs[1], dtype=np.int32)[col.offset:
                                                 col.offset + len(col) + 1]
    data = np.frombuffer(bufs[2], dtype=np.uint8) if bufs[2] is not None \
        else np.zeros(0, np.uint8)
    flat = data[off[0]:off[-1]] if off.size else data[:0]
    return flat, np.diff(off).astype(np.int64)


def _offsets32(row_lens: np.ndarray) -> np.ndarray:
    """int32 Arrow offsets from row lengths, overflow-checked.

    Offsets are accumulated in int64 first: a batch of 8192 rows × 64k-token
    segments at width 32 can exceed 2**31-1 payload bytes, and an int32
    cumsum would silently wrap and corrupt the column.  Raising forces the
    caller to lower ``spark.sql.execution.arrow.maxRecordsPerBatch`` (or the
    split threshold) instead of writing garbage."""
    off64 = np.zeros(row_lens.size + 1, dtype=np.int64)
    np.cumsum(row_lens, out=off64[1:])
    if off64[-1] > np.iinfo(np.int32).max:
        raise ValueError(
            f"Arrow batch payload is {int(off64[-1])} bytes > int32 offset "
            "range; reduce arrow.maxRecordsPerBatch or the split threshold")
    return off64.astype(np.int32)


def _binary_from_flat(data: np.ndarray, row_lens: np.ndarray) -> pa.Array:
    off = _offsets32(row_lens)
    return pa.Array.from_buffers(
        pa.binary(), row_lens.size,
        [None, pa.py_buffer(np.ascontiguousarray(off)),
         pa.py_buffer(np.ascontiguousarray(data, dtype=np.uint8))])


def _list_from_flat(values_i32: np.ndarray, row_lens: np.ndarray) -> pa.Array:
    off = _offsets32(row_lens)
    return pa.ListArray.from_arrays(
        pa.array(off, type=pa.int32()),
        pa.array(np.ascontiguousarray(values_i32, dtype=np.int32),
                 type=pa.int32()))


# ---------------------------------------------------------------------------
# the encoded-batch view: the one reader of widths/inits/payload
# ---------------------------------------------------------------------------

_LOWER_BOUND = {"d1": blocks.search_sorted_flat,
                "for": blocks.search_sorted_for_flat}


def _require_sorted_family(op: str, name: str) -> None:
    if name not in _LOWER_BOUND:
        raise ValueError(f"{op} requires a sorted-row family (d1/for), "
                         f"got codec(s) {[name]}")


class _EncodedBatch:
    """One Arrow batch of encoded rows, read once: ``n_tok`` (int64 per
    row), the codecs present (``names``, with ``ids`` indexing them per
    row), and the ``widths``/``inits``/``payload`` binary columns as
    flat uint8 buffers plus int64 per-row byte lengths (``widths_lens``
    ...).  The per-block widths and inits are the metadata the reference
    leaves to its caller (``example.c:36``); every compressed-domain
    operator reads them through this view, and hands each single-codec
    group of :meth:`groups` to the codec kernels.

    A sub-view (:meth:`take`) gathers each flat buffer from its parent on
    first use, so a zone prescreen that reads only widths and inits never
    copies payload bytes."""

    def __init__(self, n_tok, names, ids, lens, flats=None, source=None):
        self.n_tok, self.names, self.ids = n_tok, names, ids
        self.widths_lens, self.inits_lens, self.payload_lens = lens
        if flats is not None:
            self.widths, self.inits, self.payload = flats
        self._source = source        # (root view, row indices) of a sub-view

    @classmethod
    def from_columns(cls, n_tok: pa.Array, codec: pa.Array,
                     widths: pa.Array, inits: pa.Array,
                     payload: pa.Array) -> "_EncodedBatch":
        codec = codec.dictionary_encode()
        (wf, wl), (inf, il), (pf, pl) = (
            _binary_to_flat(col) for col in (widths, inits, payload))
        return cls(n_tok.to_numpy(zero_copy_only=False).astype(np.int64),
                   codec.dictionary.to_pylist(),
                   codec.indices.to_numpy(zero_copy_only=False),
                   (wl, il, pl), (wf, inf, pf))

    def __getattr__(self, name):
        # only reached for a sub-view's not-yet-gathered flat buffer
        if (name not in ("widths", "inits", "payload")
                or self.__dict__.get("_source") is None):
            raise AttributeError(name)
        root, rows = self._source
        lens = getattr(root, name + "_lens")
        off = np.cumsum(lens) - lens
        flat = getattr(root, name)[kernels.multi_arange(off[rows], lens[rows])]
        setattr(self, name, flat)
        return flat

    @property
    def inits_u32(self) -> np.ndarray:
        return np.ascontiguousarray(self.inits).view(np.uint32)

    def take(self, rows: np.ndarray) -> "_EncodedBatch":
        """Sub-view of ``rows`` (ascending, distinct); all rows is self."""
        if rows.size == self.n_tok.size:
            return self
        if self._source is not None:
            root, root_rows = self._source
            return root.take(root_rows[rows])
        return _EncodedBatch(
            self.n_tok[rows], self.names, self.ids[rows],
            [lens[rows] for lens in (self.widths_lens, self.inits_lens,
                                     self.payload_lens)],
            source=(self, rows))

    def groups(self, rows: np.ndarray | None = None):
        """(codec, row indices, single-codec sub-view) for each codec among
        ``rows`` (ascending, distinct; default all rows).  A single-codec
        batch yields itself: no gather, no copy."""
        if rows is None:
            rows = np.arange(self.n_tok.size)
        ids = self.ids[rows]
        for i, name in enumerate(self.names):
            sel = rows[ids == i]
            if sel.size:
                yield name, sel, self.take(sel)

    def _decode_as(self, name: str) -> np.ndarray:
        return codecs.get(name).decode_flat(
            self.n_tok, self.widths, self.widths_lens, self.inits,
            self.inits_lens, self.payload, self.payload_lens)

    def decode(self) -> tuple[np.ndarray, np.ndarray]:
        """(flat uint32 tokens in row order, per-row lengths).  A mixed-codec
        batch (post-shuffle) decodes per codec group and scatters each
        group's tokens into place."""
        groups = list(self.groups())
        if len(groups) == 1:
            return self._decode_as(groups[0][0]), self.n_tok
        out = np.empty(int(self.n_tok.sum()), dtype=np.uint32)
        tok_off = np.cumsum(self.n_tok) - self.n_tok
        for name, rows, sub in groups:
            out[kernels.multi_arange(tok_off[rows], sub.n_tok)] = \
                sub._decode_as(name)
        return out, self.n_tok

    def select(self, name: str, idxs: np.ndarray) -> np.ndarray:
        """uint32 token at ``idxs[r]`` (``0 <= idx < n_tok``) of every row of
        this ``name``-codec view: one block per row for the block codecs
        (``select_for``/``select_d1``, src/simdfor.c:14987,
        src/simdpackedselect.c:8096), a decode of just these rows for the
        others."""
        if name in _BLOCK_MODES:
            return blocks.select_flat(self.n_tok, self.widths, self.inits_u32,
                                      self.payload, self.payload_lens, idxs,
                                      _BLOCK_MODES[name])
        return self._decode_as(name)[np.cumsum(self.n_tok) - self.n_tok
                                     + idxs]

    def lower_bound(self, key: int, op: str) -> np.ndarray:
        """Per-row lower-bound index of ``key`` over SORTED rows, one block
        probed per row (idx == n_tok when every value < key).  Codecs
        outside the d1/for family raise a ValueError naming ``op``."""
        out = np.zeros(self.n_tok.size, dtype=np.int64)
        for name, rows, sub in self.groups():
            _require_sorted_family(op, name)
            out[rows] = _LOWER_BOUND[name](sub.n_tok, sub.widths,
                                           sub.inits_u32, sub.payload,
                                           sub.payload_lens, key)
        return out


# ---------------------------------------------------------------------------
# encode
# ---------------------------------------------------------------------------

def encode(df: DataFrame, codec: str = "auto",
           split_threshold: int | None = DEFAULT_SPLIT_THRESHOLD
           ) -> DataFrame:
    """tokens table (``doc_id``, ``source``, ``tokens``) → encoded table.

    codec: a registry name, or 'auto' → per-partition cost-model selection
    (north rule).

    Each task runs :func:`_encode_task`, the encode core it shares with
    :func:`encode_files`: a row longer than ``split_threshold`` tokens is
    cut into segments (seg_id 0, 1, …) of at most that many tokens in the
    worker (:func:`_split_flat`); ``split_threshold=None`` keeps every row
    whole as seg_id 0.

    Shuffle discipline (the 100 TB decision): the encode is NARROW —
    scan-aligned, zero shuffles — because input task sizing is already
    bounded by ``spark.sql.files.maxPartitionBytes``.  For inputs whose
    partitioning is itself skewed, salt the output with
    :func:`salt_encoded`, which shuffles the ~2 bits/token compressed
    bytes rather than raw token arrays."""
    threshold = _NO_SPLIT if split_threshold is None else split_threshold
    return _encode_plan(df.select("doc_id", "tokens", "source"),
                        lambda it: _encode_task(it, codec, threshold))


def _partition_id() -> int:
    from pyspark import TaskContext
    ctx = TaskContext.get()
    return ctx.partitionId() if ctx else -1


def _encode_task(batches, codec: str, threshold: int):
    """The encode core of every encoder task: each Arrow batch of
    (doc_id, tokens, source) rows → its rows' segments
    (:func:`_split_flat`) as one ``ENCODED_SCHEMA`` RecordBatch.

    ``codec`` 'auto' picks the task's codec on its first batch.  The
    ``enc_ns`` column carries the task's cumulative codec time so far;
    metrics take max() per pid."""
    pid = _partition_id()
    chosen = None if codec == "auto" else codec
    total_ns = 0
    for batch in batches:
        flat_i32, lens = _tokens_to_flat(batch.column(1), batch.column(0))
        doc_ids, sources, seg_ids, flat, lens = _split_flat(
            batch.column(0), batch.column(2), flat_i32.view(np.uint32),
            lens, threshold)
        t0 = time.perf_counter_ns()
        if chosen is None:
            chosen, _costs = choose_codec_flat(flat, lens)
        e = codecs.get(chosen).encode_flat(flat, lens)
        ch = kernels.content_hash_flat(flat, lens)
        total_ns += time.perf_counter_ns() - t0
        n = lens.size
        # input files may store large_string ids; the output types are
        # ENCODED_SCHEMA's in every batch of a task
        yield pa.RecordBatch.from_arrays(
            [doc_ids.cast(pa.string()), sources.cast(pa.string()),
             pa.array(seg_ids, pa.int32()),
             pa.array(lens.astype(np.int32)),
             pa.array([chosen] * n, type=pa.string()),
             _binary_from_flat(e.widths, e.widths_lens),
             _binary_from_flat(e.inits, e.inits_lens),
             _binary_from_flat(e.payload, e.payload_lens),
             pa.array(np.full(n, pid, dtype=np.int32)),
             pa.array(np.full(n, total_ns, dtype=np.int64)),
             _binary_from_flat(ch, np.full(n, 16, dtype=np.int64))],
            names=["doc_id", "source", "seg_id", "n_tok", "codec",
                   "widths", "inits", "payload", "pid", "enc_ns",
                   "content_hash"])


def _tokens_to_flat(tokens: pa.Array, doc_ids: pa.Array
                    ) -> tuple[np.ndarray, np.ndarray]:
    """An encoder batch's ``tokens`` column → (flat int32 values, row
    lengths), refusing what would not decode back as it came in.

    Any other integer element type (``list<int64>`` is pyarrow's type for
    Python ints) is cast to int32 with a checked cast, so an out-of-range
    value raises; a non-integer element type raises ``TypeError``.  A null
    row, or a null element, raises a ``ValueError`` naming its
    ``doc_id``: an encoded row cannot tell null from ``[]``, and a null
    element would read as garbage.  An int32 column without nulls takes
    no extra pass (the child's null count is known without one)."""
    t = tokens.type
    if not (pa.types.is_list(t) or pa.types.is_large_list(t)) \
            or not pa.types.is_integer(t.value_type):
        raise TypeError(f"tokens must be a list of integers, got {t}")
    if tokens.null_count:
        i = tokens.is_null().index(True).as_py()
        raise ValueError(
            f"document {doc_ids[i].as_py()!r} has null tokens (an encoded "
            "row cannot tell null from []): drop or fill it")
    if t.value_type != pa.int32():
        tokens = tokens.cast(pa.large_list(pa.int32())
                             if pa.types.is_large_list(t)
                             else pa.list_(pa.int32()))
    if tokens.values.null_count:
        # a sliced array's child also holds other rows' values: look at
        # this batch's own
        off = tokens.offsets.to_numpy().astype(np.int64)
        own = tokens.values.slice(off[0], off[-1] - off[0])
        if own.null_count:
            pos = own.is_null().index(True).as_py()
            i = int(np.searchsorted(off - off[0], pos, "right")) - 1
            raise ValueError(
                f"document {doc_ids[i].as_py()!r} has a null token: "
                "drop or fill it")
    return _list_to_flat(tokens)


def _split_flat(doc_ids, sources, flat, lens, threshold):
    """Cut every row longer than ``threshold`` tokens into segments of
    ``threshold`` tokens and a shorter tail — the one place a seg_id is
    made.  Returns (doc_ids, sources, seg_ids, flat, lens) per segment; a
    row of 0 tokens is one empty segment.  flat is unchanged (segments
    are contiguous slices)."""
    lens = np.asarray(lens, dtype=np.int64)
    nseg = np.maximum((lens + threshold - 1) // threshold, 1)
    if int(nseg.sum()) == lens.size:
        return (doc_ids, sources, np.zeros(lens.size, np.int32), flat, lens)
    seg_ids = (np.arange(int(nseg.sum()), dtype=np.int64)
               - np.repeat(np.cumsum(nseg) - nseg, nseg))
    new_lens = np.minimum(np.repeat(lens, nseg) - seg_ids * threshold,
                          threshold)
    idx = np.repeat(np.arange(lens.size), nseg)
    return (doc_ids.take(idx), sources.take(idx), seg_ids.astype(np.int32),
            flat, new_lens)


def _hidden(name: str) -> bool:
    """Spark's rule for a path component its file index skips: a name
    starting with ``.``, or with ``_`` and holding no ``=`` (``_temporary``
    attempt files, ``_SUCCESS``; a ``_key=value`` partition dir stays)."""
    return name.startswith(".") or (name.startswith("_") and "=" not in name)


def _input_files(path: str, snapshot_id: int | None = None) -> dict[str, int]:
    """Resolve an input path to its parquet data files → their sizes in
    bytes, in listing order.

    Iceberg table dirs (``metadata/version-hint.text`` present) resolve
    through the snapshot's metadata → manifest-list → manifest tree
    (:func:`iceberg.data_files`, which refuses a snapshot that carries
    delete files): only the snapshot's LIVE files are returned, with the
    manifests' ``file_size_in_bytes`` — a plain directory walk over a
    multi-snapshot table would also pick up files that are dead in the
    current snapshot and double-read history.  ``snapshot_id``
    time-travels.  Plain directories recurse (e.g. Hive-style
    ``key=value`` subdirectories), stat each file and skip what
    ``spark.read.parquet`` skips (:func:`_hidden`): a failed job's
    ``_temporary`` leftovers and hidden files.  A missing path raises
    ``FileNotFoundError`` and a directory with no data file (or a single
    file) a ``ValueError``; an Iceberg snapshot with no live file is an
    empty input."""
    from . import iceberg
    if iceberg.is_iceberg_table(path):
        return {d["file_path"]: int(d["file_size_in_bytes"])
                for d in iceberg.data_files(path, snapshot_id)}
    if snapshot_id is not None:
        raise ValueError(
            f"snapshot_id={snapshot_id} given but {path!r} is not an "
            "Iceberg table (no metadata/version-hint.text)")
    if not os.path.exists(path):
        raise FileNotFoundError(f"input path {path!r} does not exist")
    found = []
    for root, dirs, names in os.walk(path):
        dirs[:] = [d for d in dirs if not _hidden(d)]
        found += [os.path.join(root, n) for n in names
                  if n.endswith(".parquet") and not _hidden(n)]
    if not found:
        raise ValueError(f"input path {path!r} is not an Iceberg table or "
                         "a directory holding parquet data files")
    return {f: os.path.getsize(f) for f in sorted(found)}


def _plan_units(files: list[str], sizes: list[int], par: int
                ) -> list[list[tuple[str, int, int]]]:
    """The work units of :func:`encode_files`, one list per task, planned
    in the Spark driver from the input listing alone: it never opens a
    data file.  A unit ``(path, j, m)`` reads row groups j, j+m, j+2m, …
    of ``path``; a whole file is ``(path, 0, 1)``, and a slice whose j is
    past the file's last row group reads nothing.

    Small inputs (at most ``_UNITS_PER_CORE`` files per core, none over
    ``_WHOLE_FILE_BYTES``) are whole files in ``min(files, par)`` tasks,
    one per core.  Larger inputs cut each file into ``m = ceil(size /
    _SLICE_BYTES)`` slices, in at most ``par × _UNITS_PER_CORE`` tasks,
    so a task's size is bounded whatever the file-count skew.  Either
    way units go largest first (a slice weighs size / m) to the
    least-loaded task."""
    small = (len(files) <= par * _UNITS_PER_CORE
             and max(sizes, default=0) <= _WHOLE_FILE_BYTES)
    units = []
    for f, size in zip(files, sizes):
        m = 1 if small else max(-(-size // _SLICE_BYTES), 1)
        units += [(size / m, f, j, m) for j in range(m)]
    k = min(len(units), par if small else par * _UNITS_PER_CORE)
    tasks = [[] for _ in range(k)]
    loads = [(0, i) for i in range(k)]      # a heap of (load, task)
    for w, f, j, m in sorted(units, key=lambda u: -u[0]):
        load, i = heapq.heappop(loads)
        tasks[i].append((f, j, m))
        heapq.heappush(loads, (load + w, i))
    return tasks


def encode_files(spark: SparkSession, path: str, codec: str = "auto",
                 split_threshold: int = DEFAULT_SPLIT_THRESHOLD,
                 snapshot_id: int | None = None,
                 files: list[str] | None = None) -> DataFrame:
    """Fused scan→encode: the workers read the parquet input with pyarrow
    directly — the token buffers never cross the JVM row format at all.

    ``path`` may be a plain parquet directory OR an Iceberg table dir of
    pre-tokenized sequences (the north-rule input shape): Iceberg inputs
    plan work units from the snapshot's live data files only, and
    ``snapshot_id`` encodes a historic snapshot (time travel).  A plain
    directory's columns are read by name (``doc_id``, ``tokens``,
    ``source``); an Iceberg table's roles resolve to field ids through
    the schema history (:func:`iceberg.fused_role_columns`, so renamed
    role columns read as is), and each worker maps those ids to the
    file's own column names through its footer's ``PARQUET:field_id``
    metadata.  A file lacking a role's field id — written without ids,
    or before a drop + re-add of the role column — raises a
    ``ValueError`` naming the file, the role and the id.

    This is the maximum-throughput ingest path for the 100 TB job: encode
    consumes EVERY row and column of the tokens table, so Catalyst's scan
    pushdown has nothing to push, and the JVM per-element list conversion
    (the dominant fixed cost of the `mapInArrow`-over-scan plan) is pure
    overhead.  The Spark driver plans the work units from the input
    listing's file sizes (:func:`_plan_units`; it never opens a data
    file): small inputs run as one task per core over whole files, larger
    ones as strided row-group slices of about 128 MiB, so task size stays
    bounded whatever the file-count skew.  The plan is a bare
    ``spark.range`` of one id per task, with no exchange: each task reads
    the units its id names.  ``files`` restricts the scan to an explicit
    subset (the resumable ingest's batch unit).  Workers read 2048-row
    batches (``_ENCODE_BATCH_ROWS``).

    ``iceberg.export_encoded`` / ``append`` of the returned frame itself
    — uncached, to any table — runs this encoder inside the Iceberg
    writer's task (``_ENCODE_PLANS``): an ingest pass is one job, one
    stage and one Python worker per task.  A cached frame is written
    from its cache, and a frame derived from this one keeps the encoder
    and the writer as two stacked ``mapInArrow`` stages."""
    import pyarrow.parquet as pq

    from . import iceberg
    sizes = (_input_files(path, snapshot_id) if files is None
             else {f: os.path.getsize(f) for f in files})
    plan = _plan_units(list(sizes), list(sizes.values()),
                       max(int(spark.sparkContext.defaultParallelism), 1))
    roles = ["doc_id", "tokens", "source"]
    fids = (iceberg.fused_role_columns(path, roles)
            if iceberg.is_iceberg_table(path) else None)

    def columns_of(pf, path_):
        """The file's physical names for ``roles``, in role order."""
        if fids is None:
            return roles
        by_id = {int(f.metadata[b"PARQUET:field_id"]): f.name
                 for f in pf.schema_arrow
                 if f.metadata and b"PARQUET:field_id" in f.metadata}
        for r in roles:
            if fids[r] not in by_id:
                raise ValueError(
                    f"{path_}: no column with field id {fids[r]} for role "
                    f"{r!r} (a file written without field ids, or before "
                    "a drop + re-add of the role column)")
        return [by_id[fids[r]] for r in roles]

    def read(it):
        for batch in it:
            for task in batch.column(0).to_pylist():
                for path_, j, m in plan[task]:
                    pf = pq.ParquetFile(path_, pre_buffer=True)
                    cols = columns_of(pf, path_)
                    for rb in pf.iter_batches(
                            batch_size=_ENCODE_BATCH_ROWS, columns=cols,
                            row_groups=range(j, pf.num_row_groups, m)):
                        yield rb.select(cols)  # parquet yields file order

    return _encode_plan(
        spark.range(len(plan), numPartitions=max(len(plan), 1)),
        lambda it: _encode_task(read(it), codec, split_threshold))


# the DataFrames encode() and encode_files() returned, held weakly, each
# → (input frame, batch function): iceberg's writer runs such an exact
# frame's encoder inside its own mapInArrow, over the input frame's
# batches, and writes the encoded batches as they come
_ENCODE_PLANS = weakref.WeakKeyDictionary()


def _encode_plan(src: DataFrame, fn) -> DataFrame:
    out = src.mapInArrow(fn, schema=ENCODED_SCHEMA)
    _ENCODE_PLANS[out] = (src, fn)
    return out


def salt_encoded(df_encoded: DataFrame, shards: int | None = None) -> DataFrame:
    """Salt-based repartition of the ENCODED table (north rule: explicit
    salt-based repartitioning) — rebalances output for writing/downstream
    joins while shuffling compressed bytes, not raw tokens."""
    spark = df_encoded.sparkSession
    shards = shards or int(spark.conf.get("spark.sql.shuffle.partitions"))
    return (df_encoded
            .withColumn("_shard", F.pmod(F.xxhash64("doc_id", "seg_id"),
                                         F.lit(shards)))
            .repartition(shards, "_shard").drop("_shard"))


# ---------------------------------------------------------------------------
# decode
# ---------------------------------------------------------------------------

def decode(df_encoded: DataFrame, reassemble: bool = True) -> DataFrame:
    """encoded table → tokens table (doc_id, source, tokens, n_tok).

    The ONLY decoder: every encoded read is a DataFrame handed to this
    function — ``iceberg.read_table(...)`` for Iceberg tables (snapshot,
    ref, ``between=`` / ``since_snapshot_id=`` ranges and v2 deletes are
    resolved there), or ``spark.read.parquet`` for a plain directory of
    encoded parquet.  Columns are addressed by their canonical
    names (doc_id, source, seg_id, n_tok, codec, widths, inits, payload);
    a table whose role columns were renamed is renamed back by the
    caller (``withColumnsRenamed``).

    reassemble=False returns one row per stored segment — (doc_id,
    source, seg_id, tokens, n_tok) — with no shuffle: use it when no row
    exceeded the split threshold, or when the consumer works per
    segment.

    reassemble=True stitches each document's segments back into one row
    with one stitch (:func:`_stitch`) over one of two plans:

    * the frame :func:`iceberg.read_table` returned for a table whose
      writer certified that every data file holds each document's
      segments as whole runs (seg_id 0, 1, …, k−1 in one row group; see
      ``iceberg._WHOLE_RUNS_PROP``) is stitched straight over the scan,
      with no exchange: Spark gives each row group to exactly one scan
      split and reads a split in file order, so every run arrives whole.
      The stitch checks each run's seg_ids against their positions and
      raises a ``ValueError`` naming the doc_id on a mismatch, so a wrong
      certificate fails the job instead of returning wrong tokens.  A
      doc_id stored twice as two whole runs decodes as two rows here;
    * any other frame (a derived frame, ``spark.read.parquet``, a salted
      or delete-carrying table, a table from another writer) takes the
      exchange: the COMPRESSED segments are repartitioned by doc_id and
      sorted by seg_id — 3-16× fewer bytes across the exchange than
      decoded 32-bit arrays.  Rows with a DUPLICATE (doc_id, seg_id) —
      malformed input the writer never emits — concatenate in partition
      order.

    Either way concatenation in seg_id order is just merged row lengths
    over the already-ordered flat decode buffer, a null doc_id raises
    ``ValueError`` (it names no document to stitch into), and the result
    is lazy: calling ``decode`` starts no Spark job."""
    # source in its stored place: a reordered projection would copy
    # every row in a Project before the stitch
    src = df_encoded.selectExpr("doc_id", "source", *ENCODED_COLS[1:])
    if reassemble:
        if df_encoded in _WHOLE_RUN_SCANS:
            return _stitch(src, whole_runs=True)
        n = int(src.sparkSession.conf.get("spark.sql.shuffle.partitions"))
        return _stitch(src.repartition(n, "doc_id")
                       .sortWithinPartitions("doc_id", "seg_id"),
                       whole_runs=False)

    def decode_fn(it):
        for batch in it:
            flat, lens = _EncodedBatch.from_columns(
                *batch.columns[3:8]).decode()
            yield pa.RecordBatch.from_arrays(
                [batch.column(0), batch.column(1),
                 batch.column(2).cast(pa.int32()),
                 _list_from_flat(flat.view(np.int32), lens),
                 pa.array(lens, type=pa.int32())],
                names=["doc_id", "source", "seg_id", "tokens", "n_tok"])

    return src.mapInArrow(decode_fn, schema=DECODED_SCHEMA)


# the DataFrames iceberg.read_table returned as bare scans of files whose
# writer checked the whole-run rule (_whole_run_breaks) in every row
# group, held weakly: only such an exact object skips decode()'s exchange
_WHOLE_RUN_SCANS = weakref.WeakSet()


def _run_breaks(ids: pa.Array, open_id) -> np.ndarray:
    """bool per row of ``ids``: the row starts a new run of equal ids.
    Row 0 does unless it equals ``open_id``, the id of the run the
    previous batch left open (None: no open run).  A null id always
    starts a run."""
    n = len(ids)
    brk = np.ones(n, dtype=bool)
    if n > 1:
        brk[1:] = pc.fill_null(pc.not_equal(
            ids.slice(1), ids.slice(0, n - 1)), True).to_numpy(
                zero_copy_only=False)
    if n and open_id is not None:
        brk[0] = ids[0].as_py() != open_id
    return brk


def _whole_run_breaks(ids: pa.Array, seg_ids: pa.Array, open_id,
                      open_len: int) -> tuple[np.ndarray, int]:
    """The whole-run rule over one batch of (doc_id, seg_id) rows, shared
    by the writer's check (``iceberg._write_task``) and the no-exchange
    stitch: a run starts where doc_id changes or seg_id is 0, and each
    seg_id equals its position in its run.  ``open_id``/``open_len`` are
    the id and segment count of the run the previous batch left open.
    Returns the run-start mask (as :func:`_run_breaks`) and the first row
    that breaks the rule, or -1."""
    segs = pc.fill_null(seg_ids, -1).to_numpy(zero_copy_only=False)
    brk = _run_breaks(ids, open_id) | (segs == 0)
    idx = np.arange(len(ids))
    first = np.maximum.accumulate(np.where(brk, idx, 0))
    pos = idx - first
    if len(ids) and not brk[0]:
        pos[first == 0] += open_len
    bad = np.flatnonzero(segs != pos)
    return brk, int(bad[0]) if bad.size else -1


def _stitch(src: DataFrame, whole_runs: bool) -> DataFrame:
    """The reassembling stitch over ENCODED segments that arrive in
    stitch order: each partition's batches decode through the flat core,
    and each run of a document's segments merges by summing its lengths
    (the flat buffer is already in concatenation order).  The only state
    across Arrow batches is the open tail doc.  ``whole_runs`` (the
    no-exchange plan) splits runs and checks seg_ids by
    :func:`_whole_run_breaks`; otherwise a run is a stretch of equal
    doc_ids (the exchange sorted them)."""
    def fn(it):
        carry_id = None          # python str of the open doc
        carry_src = None
        carry_flat: list[np.ndarray] = []
        carry_segs = 0           # segments of the open doc so far

        def emit_carry():
            flat = (carry_flat[0] if len(carry_flat) == 1
                    else np.concatenate(carry_flat))
            return pa.RecordBatch.from_arrays(
                [pa.array([carry_id], type=pa.string()),
                 pa.array([carry_src], type=pa.string()),
                 _list_from_flat(flat.view(np.int32),
                                 np.array([flat.size], dtype=np.int64)),
                 pa.array([flat.size], type=pa.int32())],
                names=["doc_id", "source", "tokens", "n_tok"])

        for batch in it:
            nrows = batch.num_rows
            if nrows == 0:
                continue
            ids = batch.column(0)
            if ids.null_count:
                # a null id names no document to stitch into: raise
                # rather than merge it with its neighbours
                raise ValueError(
                    "decode(reassemble=True): encoded input has a null "
                    "doc_id; decode it with reassemble=False")
            if whole_runs:
                brk, bad = _whole_run_breaks(ids, batch.column(2),
                                             carry_id, carry_segs)
                if bad >= 0:
                    raise ValueError(
                        f"decode(reassemble=True): doc_id "
                        f"{ids[bad].as_py()!r} has seg_id "
                        f"{batch.column(2)[bad].as_py()} out of place in "
                        "its run; the table's segments are not whole "
                        "runs, so its whole-run certificate is wrong")
            else:
                brk = _run_breaks(ids, carry_id)
            flat, lens = _EncodedBatch.from_columns(
                *batch.columns[3:8]).decode()
            starts = np.flatnonzero(brk)
            ends = np.concatenate((starts[1:], [nrows]))
            off = np.concatenate(([0], np.cumsum(lens)))
            if not brk[0]:
                # the batch opens inside the carried doc
                head = int(starts[0]) if starts.size else nrows
                carry_flat.append(flat[:off[head]])
                carry_segs += head
            if starts.size:
                if carry_id is not None:
                    yield emit_carry()
                # hold back the batch's last doc — it may continue
                carry_id = ids[starts[-1]].as_py()
                carry_src = batch.column(1)[starts[-1]].as_py()
                carry_flat = [flat[off[starts[-1]]:off[ends[-1]]]]
                carry_segs = int(ends[-1] - starts[-1])
                starts, ends = starts[:-1], ends[:-1]
            if starts.size:
                doc_lens = off[ends] - off[starts]
                take = pa.array(starts, type=pa.int64())
                yield pa.RecordBatch.from_arrays(
                    [ids.take(take), batch.column(1).take(take),
                     _list_from_flat(
                         flat[off[starts[0]]:off[ends[-1]]]
                         .view(np.int32), doc_lens),
                     pa.array(doc_lens, type=pa.int32())],
                    names=["doc_id", "source", "tokens", "n_tok"])
        if carry_id is not None:
            yield emit_carry()

    return src.mapInArrow(fn, schema=_STITCHED_SCHEMA)


def point_lookup(df_encoded: DataFrame, index_col: str = "lookup_idx"
                 ) -> DataFrame:
    """Compressed-domain random access: for each encoded row, the token at
    position ``row[index_col]`` — decoding AT MOST ONE BLOCK, never the row.

    The per-block widths/inits columns act as the zone-map manifest
    (SURVEY.md §3.3): the target block's byte offset is a prefix sum of the
    size formula, and the value comes from ``select_for``/``select_d1``
    (simdselectFOR src/simdfor.c:14987, simdselectd1
    src/simdpackedselect.c:8096).  Non-block codecs fall back to row decode.
    Returns (doc_id, seg_id, idx, val)."""

    src = df_encoded.selectExpr(
        *ENCODED_COLS, "`" + index_col.replace("`", "``") + "`")

    def fn(it):
        for batch in it:
            eb = _EncodedBatch.from_columns(*batch.columns[2:7])
            idxs = batch.column(7).to_numpy(zero_copy_only=False) \
                .astype(np.int64)
            vsel = np.nonzero((idxs >= 0) & (idxs < eb.n_tok))[0]
            out_val = np.zeros(eb.n_tok.size, dtype=np.uint32)
            for name, rows, sub in eb.groups(vsel):
                out_val[rows] = sub.select(name, idxs[rows])
            take = pa.array(vsel, type=pa.int64())
            yield pa.RecordBatch.from_arrays(
                [batch.column(0).take(take),
                 batch.column(1).take(take).cast(pa.int32()),
                 pa.array(idxs[vsel].astype(np.int32)),
                 pa.array(out_val[vsel].view(np.int32))],
                names=["doc_id", "seg_id", "idx", "val"])

    return src.mapInArrow(fn, schema=_LOOKUP_SCHEMA)


def search_sorted(df_encoded: DataFrame, key: int) -> DataFrame:
    """Lower-bound search over SORTED rows with block skipping, for both
    block families that support it: d1 (chain inits are prev-block lasts →
    simdsearchd1 semantics, src/simdpackedsearch.c) and FOR (block minima
    are block firsts → simdsearchwithlengthFOR semantics,
    src/simdfor.c:15016, lifted across blocks).  Exactly one block is
    decoded per row, batched per (width, block-length) group; other
    codecs raise a ValueError.  Returns (doc_id, seg_id, n_tok, idx) with
    idx == n_tok when every value < key."""
    src = df_encoded.selectExpr(*ENCODED_COLS)

    def fn(it):
        for batch in it:
            eb = _EncodedBatch.from_columns(*batch.columns[2:7])
            idx = eb.lower_bound(key, "search_sorted")
            yield pa.RecordBatch.from_arrays(
                [batch.column(0), batch.column(1).cast(pa.int32()),
                 pa.array(eb.n_tok.astype(np.int32)),
                 pa.array(idx.astype(np.int32))],
                names=["doc_id", "seg_id", "n_tok", "idx"])

    return src.mapInArrow(fn, schema=_SEARCH_SCHEMA)


def range_count(df_encoded: DataFrame, lo: int, hi: int) -> DataFrame:
    """Per-row count of values in ``[lo, hi)`` over SORTED encoded rows
    WITHOUT decoding: two compressed-domain lower-bound probes per row
    (count = lower_bound(hi) - lower_bound(lo)) in ONE narrow pass — at
    most two blocks touched per row, one scan, no join/shuffle.
    Returns (doc_id, seg_id, n_tok, n_in_range)."""
    src = df_encoded.selectExpr(*ENCODED_COLS)

    def fn(it):
        for batch in it:
            eb = _EncodedBatch.from_columns(*batch.columns[2:7])
            n_in = (eb.lower_bound(hi, "range_count")
                    - eb.lower_bound(lo, "range_count"))
            yield pa.RecordBatch.from_arrays(
                [batch.column(0), batch.column(1).cast(pa.int32()),
                 pa.array(eb.n_tok.astype(np.int32)),
                 pa.array(n_in.astype(np.int32))],
                names=["doc_id", "seg_id", "n_tok", "n_in_range"])

    return src.mapInArrow(fn, schema=_RANGE_SCHEMA)


def contains_token(df_encoded: DataFrame,
                   token: "int | list[int]",
                   assume_sorted: bool = False) -> DataFrame:
    """Compressed-domain membership predicate: the (doc_id, seg_id) rows
    whose token sequence contains ``token`` — or ANY of a list of tokens
    (blocklist scans: flagged vocabulary, special-token leakage) —
    decoding ONLY rows whose per-block ZONE MAPS admit a probe; the
    reference's zone-skip discipline (simdsearchd1's per-block
    init/width pruning, /root/reference/src/simdpackedsearch.c) lifted
    to a DataFrame predicate.

    Prescreen per block from widths + inits alone (payload untouched):
    ``bitpack`` blocks can contain t only if t <= 2^w - 1; ``for``
    blocks only if init <= t <= init + 2^w - 1 (sound whatever the
    data: the FOR frame stores block minima and non-negative deltas) —
    with a probe SET, a block survives only if some probe falls in its
    envelope (one searchsorted over the sorted probes per block).
    ``d1`` rows are conservatively candidates by default (wrap-around
    delta semantics make init/width bounds unsound on unsorted rows);
    ``assume_sorted=True`` — the caller-asserted contract
    :func:`search_sorted` already uses — enables EXACT-upper d1 zones:
    block b's values lie in [init_b, init_{b+1}] (the next block's init
    IS this block's last value), the row's last block bounded by
    init + blen*(2^w-1).  Non-block codecs always decode.  Candidate
    rows then decode through the shared grouped core and are checked
    exactly — on probes outside a source's vocabulary range the scan
    never touches payload bytes."""
    probes = np.unique(np.asarray(
        [token] if np.isscalar(token) else list(token),
        dtype=np.int64))
    if probes.size == 0:
        raise ValueError("contains_token: empty probe set")
    src = df_encoded.selectExpr(*ENCODED_COLS)

    def fn(it):
        for batch in it:
            eb = _EncodedBatch.from_columns(*batch.columns[2:7])
            cand = eb.n_tok > 0
            for name, rows, sub in eb.groups(np.nonzero(cand)[0]):
                mode = _BLOCK_MODES.get(name)
                if mode is None or (mode == "d1" and not assume_sorted):
                    continue    # non-block codec, or unsorted d1 (wraps)
                w = sub.widths.astype(np.int64)
                span = np.where(w >= 32, np.int64(0xFFFFFFFF),
                                (np.int64(1) << w) - 1)
                if mode == "plain":
                    lb, ub = np.zeros(w.size, dtype=np.int64), span
                else:
                    lb = sub.inits_u32.astype(np.int64)
                    if mode == "for":
                        ub = np.minimum(lb + span, 0xFFFFFFFF)
                    else:
                        # sorted d1: block b ends at block b+1's init;
                        # the row's LAST block is bounded by its own
                        # cumulative-delta span
                        last = np.cumsum(sub.widths_lens) - 1
                        ub = np.empty_like(lb)
                        ub[:-1] = lb[1:]
                        blen_last = sub.n_tok - 128 * (sub.widths_lens - 1)
                        ub[last] = np.minimum(
                            lb[last] + blen_last * span[last], 0xFFFFFFFF)
                # block survives iff SOME probe lands in [lb, ub]: one
                # searchsorted over the sorted probe set per bound
                blk_ok = (np.searchsorted(probes, lb, side="left")
                          < np.searchsorted(probes, ub, side="right"))
                # per-row any() over variable-length block runs; rows
                # here are non-empty, so every run has >= 1 block
                hit = np.add.reduceat(
                    blk_ok.astype(np.int64),
                    np.cumsum(sub.widths_lens) - sub.widths_lens)
                cand[rows] = hit > 0
            hits = []
            idx = np.nonzero(cand)[0]
            if idx.size:
                flat, lens = eb.take(idx).decode()
                row_of = np.repeat(np.arange(lens.size), lens)
                if probes.size == 1 and 0 <= probes[0] <= 0xFFFFFFFF:
                    # dominant single-probe path: straight vectorized
                    # uint32 compare, no int64 widening copy
                    present = flat == np.uint32(probes[0])
                else:
                    vals = flat.astype(np.int64)
                    present = (np.searchsorted(probes, vals, "left")
                               < np.searchsorted(probes, vals, "right"))
                got = np.unique(row_of[present])
                hits = idx[got]
            mask = np.zeros(eb.n_tok.size, dtype=bool)
            mask[hits] = True
            out = batch.filter(pa.array(mask))
            yield pa.RecordBatch.from_arrays(
                [out.column(0), out.column(1).cast(pa.int32())],
                names=["doc_id", "seg_id"])

    return src.mapInArrow(fn, schema=_CONTAINS_SCHEMA)


def minmax_sorted(df_encoded: DataFrame) -> DataFrame:
    """Per-row (min, max) of SORTED encoded rows WITHOUT decoding: min is
    element 0 and max is element n-1, each answered by a single-block
    compressed-domain select (blocks.select_flat) — the engine-level analog
    of ``simdmaxmin`` (/root/reference/src/simdcomputil.c:95-156) running
    on zone-map probes instead of a scan.  Works for the d1 and FOR
    families (sorted rows); other codecs raise a ValueError.  Returns (doc_id, seg_id, n_tok, min_tok,
    max_tok); empty rows are dropped."""
    src = df_encoded.selectExpr(*ENCODED_COLS)

    def fn(it):
        for batch in it:
            eb = _EncodedBatch.from_columns(*batch.columns[2:7])
            vsel = np.nonzero(eb.n_tok > 0)[0]
            mn = np.zeros(eb.n_tok.size, dtype=np.uint32)
            mx = np.zeros(eb.n_tok.size, dtype=np.uint32)
            for name, rows, sub in eb.groups(vsel):
                _require_sorted_family("minmax_sorted", name)
                mn[rows] = sub.select(name, np.zeros(rows.size, np.int64))
                mx[rows] = sub.select(name, sub.n_tok - 1)
            take = pa.array(vsel, type=pa.int64())
            yield pa.RecordBatch.from_arrays(
                [batch.column(0).take(take),
                 batch.column(1).take(take).cast(pa.int32()),
                 pa.array(eb.n_tok[vsel].astype(np.int32)),
                 pa.array(mn[vsel].view(np.int32)),
                 pa.array(mx[vsel].view(np.int32))],
                names=["doc_id", "seg_id", "n_tok", "min_tok", "max_tok"])

    return src.mapInArrow(fn, schema=_MINMAX_SCHEMA)


def intersect_encoded(df_pairs: DataFrame, key_cols: list[str]
                      ) -> DataFrame:
    """Compressed-domain sorted-set intersection over PAIRED encoded rows
    — the inverted-index SvS query the reference's packed search/select
    symbols serve (simdsearchd1's init zone map,
    /root/reference/src/simdpackedsearch.c, applied list-vs-list without
    decompressing the large side).

    ``df_pairs`` carries, per row, two d1-encoded SORTED lists as
    ``a_n_tok, a_codec, a_widths, a_inits, a_payload`` and the ``b_``
    quintuple (build it with a join; broadcast the probe side — side A
    is decoded fully, side B only where its per-block zone envelopes
    admit an A value), plus any ``key_cols`` to pass through.  Returns
    key_cols + ``common`` (array<int>, ascending) + ``n_common``.
    Non-d1 rows raise in-plan: the zone math is sound only for the d1
    family's chain inits (re-encode with codec='d1' first)."""
    sides = [f"{s}_{c}" for s in ("a", "b")
             for c in ("n_tok", "codec", "widths", "inits", "payload")]
    src = df_pairs.select(*key_cols, *sides)
    nk = len(key_cols)
    key_schema = ", ".join(f"{f.name} {f.dataType.simpleString()}"
                           for f in src.schema.fields[:nk])

    def fn(it):
        for batch in it:
            a, b = (_EncodedBatch.from_columns(*batch.columns[i:i + 5])
                    for i in (nk, nk + 5))
            bad = set(a.names + b.names) - {"d1"}
            if bad:
                raise ValueError(
                    f"intersect_encoded: d1-only (sorted zone maps); got "
                    f"codec(s) {sorted(bad)} — re-encode with codec='d1'")
            out_flat, out_lens = blocks.intersect_sorted_flat(
                a.n_tok, a.widths, a.inits_u32, a.payload, a.payload_lens,
                b.n_tok, b.widths, b.inits_u32, b.payload, b.payload_lens)
            yield pa.RecordBatch.from_arrays(
                [*(batch.column(i) for i in range(nk)),
                 _list_from_flat(out_flat.view(np.int32), out_lens),
                 pa.array(out_lens.astype(np.int32))],
                names=[*key_cols, "common", "n_common"])

    return src.mapInArrow(
        fn, schema=f"{key_schema}, common array<int>, n_common int")


def _strong_content_hash(cand: DataFrame) -> DataFrame:
    """(doc_id, seg_id, h) per segment row, h the sha256 (hex) of its
    decoded little-endian int32 tokens: the confirmation arm of
    :func:`_doc_signatures`, run on candidate documents only, so its one
    non-vectorized step (hashlib, ~1.5 GB/s/core) scales with the
    duplicate candidates, not the table."""
    src = cand.selectExpr(*ENCODED_COLS)

    def fn(it):
        for batch in it:
            flat, lens = _EncodedBatch.from_columns(
                *batch.columns[2:7]).decode()
            raw = memoryview(flat.astype("<u4", copy=False)).cast("B")
            ends = (np.cumsum(lens) * 4).tolist()
            digs = [hashlib.sha256(raw[e - 4 * n:e]).hexdigest()
                    for e, n in zip(ends, lens.tolist())]
            yield pa.RecordBatch.from_arrays(
                [batch.column(0), batch.column(1), pa.array(digs)],
                names=["doc_id", "seg_id", "h"])

    return src.mapInArrow(fn, schema=_HASH_SCHEMA)


def _doc_signature(rows: DataFrame) -> DataFrame:
    """(doc_id, sig): a per-DOCUMENT identity from per-segment hashes
    ``h`` — sha256 over the sorted ``seg_id:h`` list, so a document split
    into segments (:func:`_split_flat`) compares as a whole and segment
    count/order differences cannot collide."""
    return rows.groupBy("doc_id").agg(
        F.sha2(F.concat_ws(",", F.array_sort(F.collect_list(
            F.concat_ws(":", F.col("seg_id").cast("string"),
                        F.col("h"))))), 256).alias("sig"))


def _doc_signatures(enc: DataFrame, op: str) -> DataFrame:
    """The one duplicate finder: (doc_id, sig) per document of an encoded
    frame; equal sigs mean equal token sequences.

    The fast sig folds the encoder's per-segment ``content_hash`` (16
    bytes per segment shuffled, no decode).  That hash is 128-bit but
    linearly malleable, so a document could be forged to collide with a
    target: every document whose fast sig another shares is decoded and
    CONFIRMED, its sig becoming ``fast:strong`` (strong folded from a
    sha256 per decoded segment).  Raises when ``content_hash`` is
    missing, and in-plan when it is null (nulls would collapse into one
    fake duplicate group)."""
    if "content_hash" not in enc.columns:
        raise ValueError(f"{op}: the frame has no content_hash column — "
                         "every encoder stamps it; re-encode the table")
    guarded = F.when(
        F.col("content_hash").isNull(),
        F.raise_error(F.lit(f"{op}: content_hash contains NULLs (rows "
                            "unioned in without it?) — re-encode them"))
    ).otherwise(F.col("content_hash"))
    fast = _doc_signature(enc.select("doc_id", "seg_id",
                                     F.hex(guarded).alias("h")))
    shared = fast.groupBy("sig").count().where(F.col("count") >= 2)
    cand = fast.join(shared, "sig", "leftsemi").select("doc_id")
    strong = _doc_signature(_strong_content_hash(
        enc.join(cand, "doc_id", "leftsemi")))
    return (fast.join(strong.withColumnRenamed("sig", "strong"), "doc_id",
                      "left")
            .select("doc_id", F.concat_ws(":", "sig", "strong").alias("sig")))


def encoded_dedup(df_encoded: DataFrame) -> DataFrame:
    """Exact duplicate DOCUMENTS of an encoded frame, without decoding the
    table: one row per distinct token sequence, (seq_hash, n_docs,
    first_doc).

    Documents are compared whole: a document's segments count once, and
    sharing some segments does not make two documents duplicates.  The
    groups are :func:`_doc_signatures`' — keyed on the ``content_hash``
    every encoder stamps from the RAW tokens, so identical documents
    collapse across codecs, and always confirmed on a sha256 of the
    decoded candidates (a multi-document group's seq_hash carries a
    ``:<sha256>`` suffix).  A frame without ``content_hash``, or with
    nulls in it, raises.  seq_hash is a group label, not a stable
    cross-run identifier."""
    return (_doc_signatures(df_encoded, "encoded_dedup")
            .groupBy(F.col("sig").alias("seq_hash"))
            .agg(F.count("*").alias("n_docs"),
                 F.min("doc_id").alias("first_doc")))


def dedup_delete_iceberg(spark: SparkSession, table_dir: str) -> dict | None:
    """Drop exact-duplicate DOCUMENTS from an encoded Iceberg table IN
    PLACE via v2 position-delete files — the 100 TB shape of 'dedup the
    corpus': no data file is rewritten, the commit is coordinates only
    (iceberg.write_position_deletes), and the keeper per duplicate group
    is the minimum doc_id (deterministic).

    The groups are :func:`encoded_dedup`'s (:func:`_doc_signatures`):
    whole documents, always confirmed on a sha256 of the decoded
    candidates before anything is deleted, so a collision forged against
    the stamped ``content_hash`` cannot delete an innocent document.  A
    table without ``content_hash``, or with nulls in it, raises.

    Returns the new table metadata, or None when the table has no
    duplicate documents (no commit).  Reference analog: this is the
    deletion-side complement of simdcomp-style immutable packed columns
    (reference/README.md — codecs never update in place); row removal
    happens in table metadata, never in payload bytes."""
    from . import iceberg
    base = iceberg._load_base(table_dir)
    enc = iceberg.read_table_with_pos(spark, table_dir,
                                      base[1].get("current-snapshot-id"))
    # one row per doc, but its lineage is the table scan and the candidate
    # decode: persist so they run once, not again for the coordinate join
    sig = _doc_signatures(enc, "dedup_delete_iceberg").persist()
    keep = sig.groupBy("sig").agg(F.min("doc_id").alias("keep"))
    losers = (sig.join(keep, "sig").where(F.col("doc_id") != F.col("keep"))
              .select("doc_id"))
    pos = (enc.join(losers, "doc_id", "leftsemi")
           .select(F.col("_file").alias("file_path"),
                   F.col("_pos").alias("pos")))
    try:
        return iceberg.write_position_deletes(
            spark, table_dir, pos,
            extra_summary={"simdcomp-dedup-delete": "exact-doc-verified"},
            base=base)
    finally:
        sig.unpersist()


# ---------------------------------------------------------------------------
# verification + metrics (declarative)
# ---------------------------------------------------------------------------

def verify_roundtrip(original: DataFrame, decoded: DataFrame) -> int:
    """Number of rows whose decoded tokens differ (0 = bit-identical)."""
    o = original.select("doc_id", F.col("tokens").alias("t0"))
    d = decoded.select("doc_id", F.col("tokens").alias("t1"))
    return (o.join(d, "doc_id", "full_outer")
            .where(~F.coalesce(F.col("t0") == F.col("t1"), F.lit(False)))
            .count())


def partition_metrics(df_encoded: DataFrame) -> DataFrame:
    """Per-partition codec-choice / bits-per-token / throughput metrics
    (north rule) as a queryable DataFrame."""
    return (
        df_encoded.groupBy("pid", "codec")
        .agg(F.count("*").alias("rows"),
             F.sum("n_tok").alias("tokens"),
             F.sum(F.length("payload")).alias("payload_bytes"),
             (F.sum(F.length("widths")) + F.sum(F.length("inits"))
              ).alias("meta_bytes"),
             F.max("enc_ns").alias("enc_ns"))
        .withColumn("bits_per_token",
                    (F.col("payload_bytes") + F.col("meta_bytes")) * 8.0
                    / F.col("tokens"))
        .withColumn("tokens_per_sec",
                    F.col("tokens") / (F.col("enc_ns") / 1e9))
    )
