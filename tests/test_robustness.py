"""Adversarial-but-legal inputs: every case either matches the single-pass
oracle or fails with a named error — never a task failure."""

import dataclasses
import random
import re

import pytest

from wordscape_spark import datagen
from wordscape_spark.config import DEFAULT_CONFIG
from wordscape_spark.operators import extract as X
from wordscape_spark.operators import similarity as SIM

SCHEMA = (
    "doc_id string, spans array<struct<kind:string,text:string,"
    "media_ref:string,offset:int>>"
)

# every doc below has more than salt_threshold spans, so SALTED sends all
# of them down the chunked mega-doc path and SMALL sends none
SALTED = dataclasses.replace(
    DEFAULT_CONFIG, salt_threshold=8, salt_chunk_spans=6, max_doc_spans=100
)
SMALL = dataclasses.replace(SALTED, salt_threshold=DEFAULT_CONFIG.salt_threshold)


@pytest.fixture(scope="module")
def base_spans():
    """An ordinary generated doc that classifies ok, 40-80 spans long."""
    import pyarrow.parquet as pq

    for row in pq.read_table(datagen.ensure_interleaved(0.001)).to_pylist():
        spans = [
            (s["kind"], s["text"], s["media_ref"], s["offset"])
            for s in row["spans"]
        ]
        if 40 <= len(spans) <= 80 and X._safe_classify_tuples(spans, SALTED).ok:
            return spans
    pytest.fail("no 40-80 span doc that classifies ok in the fixture")


@pytest.fixture(scope="module")
def mega_docs(base_spans):
    n = len(base_spans)
    null_kind = list(base_spans)
    null_kind[n // 2] = (None,) + null_kind[n // 2][1:]
    shuffled = list(base_spans)
    random.Random(7).shuffle(shuffled)
    return {
        "control": base_spans,
        "null_kind": null_kind,
        "null_text": [
            (k, None if i % 3 == 0 else t, m, o)
            for i, (k, t, m, o) in enumerate(base_spans)
        ],
        # three copies back to back: over SALTED.max_doc_spans
        "oversized": [
            (k, t, m, o + c * n) for c in range(3) for k, t, m, o in base_spans
        ],
        # offsets arrive out of order
        "shuffled": shuffled,
        # salted, yet under min_text_chars: the merge's min-text gate
        "short": [
            (k, t[:5] if t else t, m, o) for k, t, m, o in base_spans[:12]
        ],
    }


def _surface(ok, reject_reason, spans, text):
    return ok, reject_reason, [tuple(s) for s in spans], text


def _extracted(spark, docs, cfg):
    df = spark.createDataFrame(list(docs.items()), SCHEMA)
    return {
        r["doc_id"]: _surface(
            r["ok"], r["reject_reason"],
            [(s["kind"], s["text"], s["media_ref"], s["offset"])
             for s in r["spans"]],
            r["text"],
        )
        for r in X.extract(df, cfg).collect()
    }


def test_salted_adversarial_docs_match_small_path_and_oracle(spark, mega_docs):
    oracle = {}
    for doc_id, spans in mega_docs.items():
        res = X._safe_classify_tuples(spans, SALTED)
        oracle[doc_id] = _surface(res.ok, res.reject_reason, res.spans, res.text)
    # each case exercises what it claims
    assert len(mega_docs["oversized"]) > SALTED.max_doc_spans
    assert oracle["oversized"][1] == "too_many_spans"
    assert oracle["null_kind"][1].startswith("error:")
    assert oracle["control"][0] and oracle["shuffled"][0]
    assert oracle["shuffled"] == oracle["control"]
    assert len(mega_docs["short"]) > SALTED.salt_threshold
    assert oracle["short"][:2] == (False, "min_text")
    assert oracle["short"][3]  # a rejected doc keeps its text

    assert _extracted(spark, mega_docs, SALTED) == oracle
    assert _extracted(spark, mega_docs, SMALL) == oracle


def test_salted_null_spans_behind_n_spans_rejects(spark):
    """A maintained n_spans column can route a NULL spans array to the
    salted path; it must come back as the small path's null_spans reject,
    not fail the chunk task."""
    df = spark.createDataFrame(
        [("nullish", None, 50)], SCHEMA + ", n_spans int"
    )
    for fn in (X.extract, X.extract_slim):
        got = [(r["doc_id"], r["ok"], r["reject_reason"])
               for r in fn(df, SALTED).collect()]
        assert got == [("nullish", False, "null_spans")], fn.__name__


def test_salted_branch_plan_shape(spark, mega_docs):
    """chunk → salt shuffle → classify → merge: three Arrow Python nodes,
    no pandas node, no cached frame and no broadcast join."""
    df = spark.createDataFrame(list(mega_docs.items()), SCHEMA)
    plan = (
        X._extract_salted(df, SALTED)._jdf.queryExecution()
        .executedPlan().toString()
    )
    python_nodes = re.findall(
        r"\b(?:MapInPandas|MapInArrow|FlatMapGroupsIn(?:Pandas|Arrow)|"
        r"(?:Arrow|Batch)EvalPython)\b",
        plan,
    )
    assert sorted(python_nodes) == [
        "FlatMapGroupsInArrow", "MapInArrow", "MapInArrow"
    ], plan
    assert "InPandas" not in plan, plan
    assert "InMemory" not in plan, plan
    assert "BroadcastExchange" not in plan, plan


def test_ann_query_side_over_bound_raises(spark, monkeypatch):
    emb = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(6)],
        "vec_id long, embedding array<float>",
    )
    monkeypatch.setattr(SIM, "_MAX_QUERY_ROWS", 5)
    with pytest.raises(SIM.QuerySideTooLarge, match="more than 5 rows"):
        SIM.brute_force_topk(emb, emb, k=2)
    # at the bound the query side is still accepted
    monkeypatch.setattr(SIM, "_MAX_QUERY_ROWS", 6)
    assert len(SIM.brute_force_topk(emb, emb, k=2).collect()) == 12


def test_empty_and_sparse_partitions(spark, base_spans):
    """A zero-row frame and 3 docs spread over 16 partitions (most of them
    empty) through extract, extract_slim and curate, on the small and the
    salted path."""
    from wordscape_spark.plans import curate as CU

    salting = dataclasses.replace(
        DEFAULT_CONFIG, salt_threshold=5, salt_chunk_spans=4
    )
    empty = spark.createDataFrame([], SCHEMA)
    sparse = spark.createDataFrame(
        [(f"d{i}", base_spans) for i in range(3)], SCHEMA
    ).repartition(16)
    for cfg in (DEFAULT_CONFIG, salting):
        for fn in (X.extract, X.extract_slim):
            assert fn(empty, cfg).collect() == [], fn.__name__
            got = sorted(r["doc_id"] for r in fn(sparse, cfg).collect())
            assert got == ["d0", "d1", "d2"], (fn.__name__, cfg)

    text_schema = "doc_id string, lang string, text string"
    funnel = CU.funnel(CU.curate(spark.createDataFrame([], text_schema)))
    assert [tuple(r) for r in funnel.orderBy("stage_order").collect()] == [
        (i, stage, 0, 0) for i, stage in enumerate(CU.STAGES)
    ]
    text = " ".join(t for _, t, _, _ in base_spans if t)
    sparse_text = spark.createDataFrame(
        [(f"d{i}", "en", f"{text} {i}") for i in range(3)], text_schema
    ).repartition(16)
    funnel = CU.funnel(CU.curate(sparse_text)).orderBy("stage_order").collect()
    assert [r["stage"] for r in funnel] == list(CU.STAGES)
    assert funnel[0]["n_docs"] == 3


def test_dense_duplicate_corpus_curates(spark):
    """Almost every doc is an exact or near copy of one of four texts, so
    every exact-dedup survivor is an LSH candidate and the verify
    prefilter's id set is the whole stage.  curate keeps one doc per
    group, and the funnel equals the hand count."""
    from wordscape_spark.plans import curate as CU

    groups, exact_copies, near_texts = 4, 40, 30
    rows = []
    for g in range(groups):
        base = (
            "the quick document speaks of shipping and ports and carries "
            "enough plain words that have been set to clear the gates "
            + " ".join(f"g{g}w{j}" for j in range(24))
        )
        # each near text appends one word; it and its exact copy both
        # come after the group's original in id order
        texts = [base] * (1 + exact_copies) + [
            f"{base} extra{j}" for j in range(near_texts) for _ in range(2)
        ]
        rows += [(f"{g}{i:04d}", "en", t) for i, t in enumerate(texts)]
    junk = [("90000", "en", "@@@ ### !!!"), ("90001", "de", "... ...")]
    df = spark.createDataFrame(rows + junk, "doc_id string, lang string, text string")

    stages = CU.curate(df, budget_per_lang=10**9, n_streams=4)
    funnel = CU.funnel(stages).orderBy("stage_order").collect()

    def count(texts):
        return len(texts), sum(len(t.split()) for t in texts)

    texts = [t for _, _, t in rows]
    originals = [r for r in rows if r[0].endswith("0000")]
    assert [(r["stage"], r["n_docs"], r["n_tokens"]) for r in funnel] == [
        ("input", *count(texts + [t for _, _, t in junk])),
        ("quality", *count(texts)),
        ("exact_dedup", *count(set(texts))),
        ("near_dedup", *count([t for _, _, t in originals])),
        ("token_budget", *count([t for _, _, t in originals])),
    ]
    survivors = {r["doc_id"] for r in stages["token_budget"].collect()}
    assert survivors == {r[0] for r in originals}
