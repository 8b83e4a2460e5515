"""Sequence packing (shaping.pack_sequences): the concat-and-slice
geometry must match a pure-Python re-derivation, conserve every token,
emit exactly-seq_len sequences (except each stream's trailing
remainder), and never shuffle on anything but the stream key."""

import hashlib

import pytest

from wordscape_spark.operators import shaping

N_STREAMS = 4
SEQ_LEN = 16

DOCS = [
    (0, 5), (1, 40), (2, 16), (3, 0), (4, 1), (5, 7), (6, 33),
    (7, 16), (8, 2), (9, 64), (10, 3), (11, 11), (12, 29), (13, 15),
]


def _stream(doc_id: int) -> int:
    return int(hashlib.md5(str(doc_id).encode()).hexdigest()[:8], 16) % N_STREAMS


def _py_pack():
    rows = []
    by_stream: dict[int, list[tuple[int, int]]] = {}
    for doc_id, nt in DOCS:
        if nt == 0:
            continue
        by_stream.setdefault(_stream(doc_id), []).append((doc_id, nt + 1))
    for stream, docs in by_stream.items():
        off = 0
        for doc_id, n in sorted(docs):
            s, e = off, off + n
            for k in range(s // SEQ_LEN, (e - 1) // SEQ_LEN + 1):
                lo, hi = max(s, k * SEQ_LEN), min(e, (k + 1) * SEQ_LEN)
                rows.append(
                    (f"{stream}-{k}", doc_id, lo - s, hi - s, lo - k * SEQ_LEN)
                )
            off = e
    return sorted(rows)


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, n_tokens long")


@pytest.fixture(scope="module")
def packed(docs):
    return shaping.pack_sequences(
        docs, seq_len=SEQ_LEN, n_streams=N_STREAMS
    ).cache()


def test_matches_python(packed):
    got = sorted(tuple(r) for r in packed.collect())
    assert got == _py_pack()


def test_token_conservation(packed):
    """Every token of every non-empty doc (plus its EOS) lands in
    exactly one sequence slice."""
    per_doc: dict[int, list[tuple[int, int]]] = {}
    for r in packed.collect():
        per_doc.setdefault(r["doc_id"], []).append(
            (r["doc_from"], r["doc_to"])
        )
    want = {d: n + 1 for d, n in DOCS if n > 0}
    for doc_id, slices in per_doc.items():
        slices.sort()
        # contiguous, non-overlapping, starting at 0
        assert slices[0][0] == 0
        for (a, b), (c, _) in zip(slices, slices[1:]):
            assert b == c
        assert slices[-1][1] == want[doc_id]
    assert set(per_doc) == set(want)


def test_sequences_full_except_stream_tail(packed):
    fill: dict[str, int] = {}
    for r in packed.collect():
        fill[r["seq_id"]] = fill.get(r["seq_id"], 0) + (
            r["doc_to"] - r["doc_from"]
        )
    last_per_stream = {}
    for sid in fill:
        stream, k = sid.split("-")
        last_per_stream[stream] = max(last_per_stream.get(stream, -1), int(k))
    for sid, n in fill.items():
        stream, k = sid.split("-")
        if int(k) == last_per_stream[stream]:
            assert 0 < n <= SEQ_LEN
        else:
            assert n == SEQ_LEN, sid


def test_exchange_only_on_stream(docs):
    plan = (
        shaping.pack_sequences(docs, seq_len=SEQ_LEN, n_streams=N_STREAMS)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "_ps_stream" in line, line


def test_invalid_seq_len_raises(docs):
    with pytest.raises(ValueError):
        shaping.pack_sequences(docs, seq_len=0, n_streams=N_STREAMS)
