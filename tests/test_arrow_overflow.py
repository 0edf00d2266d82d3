"""Large-offset safety of the Arrow LWW fold kernel.

Found by the 256M-event soak: zipf(1.1) over 2.56M conversations puts
~9.5% of all events in ONE conversation, so one bucket's delta layers
carried >2 GiB of text into a single local-fold task. `sort_by`/`take`
on int32-offset string columns then died with Arrow's 'offset overflow
while concatenating arrays' — and the `LOCAL_MAX_BYTES` byte router
could not have caught it, because it sees compressed on-disk bytes
(the ' lorem' filler compresses ~20x). The kernel now sorts only the key
columns and gathers the winners from each input record batch in bounded
chunks (`_take_capped`), so no column is ever concatenated whole. No
Spark session needed here: the kernel is pure Arrow.
"""

import numpy as np
import pyarrow as pa
import pytest

from biomedica_etl_spark.sources.datasource import (
    _arrow_schema,
    _lww_fold,
    _take_capped,
)

TARGET = _arrow_schema(True)

_INT32_CEIL = 1 << 31


def _row(conv, turn, text, lsn, deleted=False):
    return {
        "conv_id": [conv],
        "turn_idx": [turn],
        "role": ["assistant"],
        "text": [text],
        "tool": [None],
        "ts": [1_700_000_000_000_000],
        "_lsn": [lsn],
        "_deleted": [deleted],
    }


def _stored(rows):
    # one table per row, concatenated — the same multi-chunk int32 shape
    # _read_stored_arrow produces from per-file reads (a single >2 GiB
    # int32 chunk cannot even be constructed)
    return pa.concat_tables(
        [pa.Table.from_pydict(r, schema=TARGET) for r in rows]
    )


def _max_chunk_bytes(tab: pa.Table) -> int:
    return max(
        (chunk.nbytes for col in tab.columns for chunk in col.chunks),
        default=0,
    )


def test_fold_survives_over_2gib_of_text_in_one_bucket():
    # The SURVIVING text (not just the input) must exceed the int32
    # offset ceiling: the soak's second crash was `_cast_capped` slicing
    # a >2 GiB post-fold table — `slice` keeps absolute offsets into the
    # original values buffer, and the narrowing cast rejects any view
    # whose final absolute offset passes 2 GiB, so every slice beyond
    # that point failed with 'input array too large' even at 256 MB
    # spans. 10 winners x ~270 MB = ~2.6 GiB survives; plus 5 superseded
    # versions so LWW resolution is still exercised at this size.
    big = "lorem ipsum " * 22_500_000  # ~270 MB
    rows = []
    for i in range(5):
        # two versions per key; the higher-lsn one must win
        rows.append(_row(f"conv-{i}", 0, big + f" v1-{i}", lsn=10 + i))
        rows.append(_row(f"conv-{i}", 0, big + f" v2-{i}", lsn=100 + i))
    for i in range(5, 10):
        rows.append(_row(f"conv-{i}", 0, big + f" v2-{i}", lsn=100 + i))
    stored = _stored(rows)
    assert stored["text"].nbytes > _INT32_CEIL

    out = _lww_fold(stored, tombstones=True)

    assert out.schema == TARGET
    assert out.num_rows == 10
    assert out["text"].nbytes > _INT32_CEIL  # survivors alone pass int32
    suffixes = sorted(t[-30:].split()[-1] for t in out["text"].to_pylist())
    assert suffixes == [f"v2-{i}" for i in range(10)]
    # every output chunk must sit safely under the int32 offset ceiling
    assert _max_chunk_bytes(out) < _INT32_CEIL


def test_fold_drops_tombstones_at_large_offsets():
    big = "x" * 300_000_000  # 300 MB
    rows = [
        _row("keep", 1, big + " alive", lsn=1),
        _row("gone", 1, big + " dead-v1", lsn=1),
        _row("gone", 1, big + " dead", lsn=2, deleted=True),
        *[_row(f"pad-{i}", 1, big, lsn=1) for i in range(6)],
    ]
    out = _lww_fold(_stored(rows), tombstones=False)
    assert out.schema == _arrow_schema(False)
    convs = sorted(out["conv_id"].to_pylist())
    assert "gone" not in convs and "keep" in convs
    assert out.num_rows == 7


def test_take_capped_slices_to_bounded_chunks():
    rows = [_row(f"c{i}", i, "t" * 1000, lsn=i) for i in range(50)]
    tab = _stored(rows)
    idx = np.array([0, 3, 4, 5, 9, 20, 21, 48, 49])
    out = _take_capped(tab, idx, cap=5_000)  # force many chunks
    assert out.schema == TARGET
    assert out.column("text").num_chunks > 1
    assert _max_chunk_bytes(out) <= 5_000
    assert out.to_pylist() == [tab.slice(int(i), 1).to_pylist()[0]
                               for i in idx]


def test_take_capped_empty():
    out = _take_capped(TARGET.empty_table(), np.array([], np.int64))
    assert out.schema == TARGET and out.num_rows == 0


def test_take_capped_keeps_runs_zero_copy():
    # consecutive winners inside one input batch are a slice of it, not
    # a copy: the fold's peak memory is the input plus the rows it copies
    tab = pa.Table.from_pydict(
        {k: v * 4 for k, v in _row("c", 0, "y" * 10_000, lsn=1).items()},
        schema=TARGET)
    pa.default_memory_pool().release_unused()
    before = pa.total_allocated_bytes()
    out = _take_capped(tab, np.array([1, 2, 3]))
    assert out.num_rows == 3
    assert pa.total_allocated_bytes() - before < 10_000


@pytest.mark.parametrize("tombstones", [True, False])
def test_fold_small_path_unchanged(tombstones):
    rows = [
        _row("a", 1, "old", lsn=1),
        _row("a", 1, "new", lsn=2),
        _row("b", 1, "only", lsn=1, deleted=not tombstones and False),
    ]
    out = _lww_fold(_stored(rows), tombstones=tombstones)
    texts = dict(zip(out["conv_id"].to_pylist(), out["text"].to_pylist()))
    assert texts == {"a": "new", "b": "only"}
