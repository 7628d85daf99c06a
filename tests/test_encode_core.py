"""The encode core's input rule (engine._encode_task), Spark-free: any
integer element type encodes exactly as int32, anything that would not
decode back as it came in raises."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pytest

from simdcomp_spark import engine


def _batch(tokens, ids=None) -> pa.RecordBatch:
    tokens = tokens if isinstance(tokens, pa.Array) else pa.array(tokens)
    ids = ids or [f"d{i}" for i in range(len(tokens))]
    return pa.RecordBatch.from_arrays(
        [pa.array(ids), tokens, pa.array(["s"] * len(ids))],
        names=["doc_id", "tokens", "source"])


def _roundtrip(batch, codec="auto") -> dict[str, list[int]]:
    out = pa.Table.from_batches(
        list(engine._encode_task([batch], codec, 1 << 16)))
    flat, lens = engine._EncodedBatch.from_columns(
        *(out.column(c).combine_chunks() for c in
          ("n_tok", "codec", "widths", "inits", "payload"))).decode()
    rows = np.split(flat.view(np.int32), np.cumsum(lens)[:-1])
    return {d: r.tolist() for d, r in zip(out.column("doc_id").to_pylist(),
                                          rows)}


@pytest.mark.parametrize("codec", ["auto", "bitpack", "d1", "dict"])
@pytest.mark.parametrize("vtype", [pa.int64(), pa.int16(), pa.uint8(),
                                   pa.uint32()])
def test_integer_element_types_encode_exactly(codec, vtype):
    """list<int64> is pyarrow's type for Python ints (and Spark's for
    array<bigint>); every integer type decodes to the values given, for
    list and large_list alike."""
    rows = [[1, 2, 3], [4, 5], [], [200, 0, 7]]
    for ltype in (pa.list_(vtype), pa.large_list(vtype)):
        got = _roundtrip(_batch(pa.array(rows, ltype)), codec)
        assert got == {f"d{i}": r for i, r in enumerate(rows)}, ltype


def test_out_of_range_value_raises():
    with pytest.raises(pa.ArrowInvalid, match="not in range"):
        _roundtrip(_batch(pa.array([[1, 2**40]], pa.list_(pa.int64()))))


@pytest.mark.parametrize("tokens", [
    pa.array([[1.0, 2.0]]),
    pa.array([["a"]]),
    pa.array([1, 2]),
])
def test_non_integer_tokens_raise_type_error(tokens):
    with pytest.raises(TypeError, match="list of integers"):
        _roundtrip(_batch(tokens))


@pytest.mark.parametrize("vtype", [pa.int32(), pa.int64()])
def test_null_element_names_its_document(vtype):
    rows = [[1, 2], [], [1, None, 3]]
    with pytest.raises(ValueError, match="'c' has a null token"):
        _roundtrip(_batch(pa.array(rows, pa.list_(vtype)), ["a", "b", "c"]))


def test_sliced_batch_counts_only_its_own_rows():
    """A null element outside the slice is not this batch's: the slice
    encodes exactly; one inside it raises naming the right document."""
    full = pa.array([[1, None], [2, 3], [], [4], [5, None]],
                    pa.list_(pa.int32()))
    assert _roundtrip(_batch(full.slice(1, 3), ["x", "y", "z"])) == \
        {"x": [2, 3], "y": [], "z": [4]}
    with pytest.raises(ValueError, match="'w' has a null token"):
        _roundtrip(_batch(full.slice(2, 3), ["u", "v", "w"]))
