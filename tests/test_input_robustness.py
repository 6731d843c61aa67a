"""Malformed-input robustness: null spans arrays, null fields, empty
batches — the batch must not fail and well-formed docs must be unaffected."""

from __future__ import annotations

import json
import warnings

import pandas as pd
import pyarrow as pa

from key_resource_table_extractor_spark import oracle
from key_resource_table_extractor_spark.extractor.pipeline import (
    extract_pandas_batch,
    make_map_in_arrow_fn,
)

GOOD = [
    {"kind": "text", "text": "Key Resources Table", "media_ref": "", "offset": 0},
    {"kind": "text", "text": "REAGENT or RESOURCE   SOURCE   IDENTIFIER",
     "media_ref": "", "offset": 1},
    {"kind": "text", "text": "Anti-Foo              Abcam    RRID:AB_1",
     "media_ref": "", "offset": 2},
]


SPAN_T = pa.struct(
    [("kind", pa.string()), ("text", pa.string()),
     ("media_ref", pa.string()), ("offset", pa.int32())]
)


def _arrow_extract(docs: dict) -> pd.DataFrame:
    """One Arrow batch through the production mapInArrow adapter."""
    batch = pa.RecordBatch.from_pydict({
        "doc_id": list(docs),
        "spans": pa.array(list(docs.values()), pa.list_(SPAN_T)),
    })
    (out,) = make_map_in_arrow_fn()([batch])
    return out.to_pandas()


def _data_rows(out, doc_id):
    d = out[(out.doc_id == doc_id) & out.kind.isin(["text", "media"])]
    return list(zip(d["kind"], d["text"], d["media_ref"], d["offset"]))


def test_null_spans_and_fields_do_not_poison_batch():
    anti_bar = {"kind": "text",
                "text": "Anti-Bar              Sigma    RRID:AB_2",
                "media_ref": "", "offset": None}
    docs = {
        "good": GOOD,
        "null_spans": None,
        "null_fields": [
            {"kind": None, "text": None, "media_ref": None, "offset": None},
            {"kind": "media", "text": None, "media_ref": None, "offset": 1},
        ],
        "empty": [],
        # a null span element is skipped, the rest of its doc extracts
        "null_element": [GOOD[0], None, GOOD[1], GOOD[2]],
        # a null offset counts as 0: the row sorts right after the offset-0
        # title (stable), not before it as a wrapped INT64_MIN would
        "null_offset": GOOD + [anti_bar],
    }
    with warnings.catch_warnings():
        warnings.simplefilter("error")  # no NaN -> int64 cast warning
        out = _arrow_extract(docs)
    good = _data_rows(out, "good")
    assert len(good) > 0
    assert _data_rows(out, "null_element") == good
    exp = [
        (k, t, m, o)
        for (_s, k, t, m, o) in oracle.extract_document(
            [(s["kind"], s["text"], s["media_ref"], s["offset"] or 0)
             for s in docs["null_offset"]]
        )
    ]
    got = _data_rows(out, "null_offset")
    assert got == exp
    texts = [t for _k, t, _m, _o in got]
    assert texts.index("Key Resources Table") < texts.index("Anti-Bar")
    assert texts.index("Anti-Bar") < texts.index("REAGENT or RESOURCE")
    assert (out["kind"] != "error").all()  # nothing crashed per-doc either
    # stats row counts all six docs
    stats = json.loads(out[out.kind == "stats"].iloc[0]["text"])
    assert stats["n_docs"] == 6
    assert stats["n_errors"] == 0


def test_empty_batch():
    out = extract_pandas_batch(pd.DataFrame({"doc_id": [], "spans": []}))
    assert list(out.columns) == [
        "doc_id", "seq", "kind", "text", "media_ref", "offset",
    ]
    assert len(out) == 0


def test_sliced_list_array_in_arrow_path():
    """A RecordBatch whose spans ListArray is a nonzero-offset slice must
    not misalign span_doc with the child value arrays (the child of a
    sliced ListArray still holds the FULL values buffer)."""
    decoy = [
        {"kind": "text", "text": "decoy line", "media_ref": "", "offset": 0}
    ]
    full = pa.table(
        {
            "doc_id": pa.array(["skip0", "skip1", "keep"]),
            "spans": pa.array([decoy, decoy + decoy, GOOD], pa.list_(SPAN_T)),
        }
    )
    sliced = full.slice(2)  # ListArray with offset 2 — child keeps decoys
    batch = sliced.combine_chunks().to_batches()[0]
    assert batch.column("spans").offset != 0  # the regression precondition
    out = list(make_map_in_arrow_fn()([batch]))
    assert len(out) == 1
    rows = out[0].to_pydict()
    got = [
        (k, t, o)
        for k, t, o, d in zip(rows["kind"], rows["text"], rows["offset"],
                              rows["doc_id"])
        if d == "keep" and k in ("text", "media")
    ]
    exp = [
        (k, t, o)
        for (_s, k, t, _m, o) in oracle.extract_document(
            [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in GOOD]
        )
    ]
    assert got == exp and got, (got, exp)
    assert not any("decoy" in t for t in rows["text"])


def test_round3_operators_tolerate_empty_input(spark):
    """Every round-3 operator must return an EMPTY, correctly-typed result
    on an empty corpus — not raise on null aggregates (avgdl, n_units,
    label sums) or empty groupings."""
    from key_resource_table_extractor_spark.operators.dedup import (
        dedup_clusters,
        dup_passage_stats,
    )
    from key_resource_table_extractor_spark.operators.multimodal import (
        embed_media,
        resize_media,
    )
    from key_resource_table_extractor_spark.operators.relational import (
        asof_join,
        domain_mixture_sample,
    )
    from key_resource_table_extractor_spark.operators.text import (
        bm25_topk,
        chunk_documents,
        sequence_packing,
    )

    empty = spark.createDataFrame([], "doc_id bigint, text string")
    for fn in (
        dup_passage_stats,
        dedup_clusters,
        bm25_topk,
        chunk_documents,
        sequence_packing,
        resize_media,
        embed_media,
    ):
        out = fn(empty)
        assert out.collect() == [], fn
        assert len(out.schema.fields) >= 2, fn

    empty_src = spark.createDataFrame(
        [], "doc_id bigint, source string"
    )
    out = domain_mixture_sample(empty_src, {"a": 1.0})
    assert out.collect() == []

    empty_l = spark.createDataFrame([], "k bigint, ts timestamp, lv double")
    empty_r = spark.createDataFrame([], "k bigint, ts timestamp, rv double")
    assert (
        asof_join(
            empty_l, empty_r, key="k", ts="ts", right_cols=["rv"]
        ).collect()
        == []
    )


def test_round4_operators_tolerate_empty_and_foreign_inputs(spark):
    from key_resource_table_extractor_spark.operators.curation import (
        curation_pipeline,
    )
    from key_resource_table_extractor_spark.operators.dedup import (
        minhash_signatures,
        remove_boilerplate,
    )
    from key_resource_table_extractor_spark.operators.similarity import (
        ann_pq_topk,
    )

    empty_docs = spark.createDataFrame([], "doc_id bigint, text string")
    assert remove_boilerplate(empty_docs).collect() == []
    assert minhash_signatures(empty_docs).collect() == []

    # PQ: empty corpus AND a corpus with no rows below n_queries both
    # return an empty, correctly-typed frame (not an analysis crash)
    empty_emb = spark.createDataFrame(
        [], "vec_id bigint, embedding array<double>"
    )
    out = ann_pq_topk(empty_emb)
    assert out.collect() == []
    assert [f.name for f in out.schema.fields] == [
        "query_id", "rk", "cand_id", "cos",
    ]
    # both paths (empty guard / live query) must produce ONE schema —
    # field TYPES included, not just names
    live = ann_pq_topk(
        spark.createDataFrame(
            [(i, [float(i + j) for j in range(64)]) for i in range(4)],
            "vec_id bigint, embedding array<double>",
        ),
        n_queries=2, k=2,
    )
    assert [(f.name, f.dataType) for f in live.schema.fields] == [
        (f.name, f.dataType) for f in out.schema.fields
    ]
    high_ids = spark.createDataFrame(
        [(1000 + i, [float(i), 1.0, 0.5, 2.0] * 16) for i in range(6)],
        "vec_id bigint, embedding array<double>",
    )
    assert ann_pq_topk(high_ids, n_queries=10).collect() == []

    # minhash must preserve a STRING doc_id type (extraction-side ids)
    sdocs = spark.createDataFrame(
        [("doc_a", "one two three four five six"),
         ("doc_b", "one two three four five six")],
        "doc_id string, text string",
    )
    rows = minhash_signatures(sdocs).collect()
    assert {r["doc_id"] for r in rows} == {"doc_a", "doc_b"}
    a, b = sorted(rows, key=lambda r: r["doc_id"])
    assert [a[f"mh{i}"] for i in range(32)] == [
        b[f"mh{i}"] for i in range(32)
    ]

    empty_curation = curation_pipeline(
        spark.createDataFrame(
            [], "doc_id bigint, source string, text string"
        ),
        {"srcA": 1.0},
    )
    assert empty_curation.collect() == []


def test_doc_error_keeps_other_docs_nested_colspans_output(monkeypatch):
    """A per-doc error row must not shift the extent/rowspan columns of
    the docs after it: the colspan renderer reads them by row position,
    so a short column would hand later docs their neighbours' rowspans."""
    from key_resource_table_extractor_spark import synth
    from key_resource_table_extractor_spark.extractor import pipeline

    docs = [f"doc_42_{i:07d}" for i in range(6)]
    pdf = pd.DataFrame({
        "doc_id": docs,
        "spans": [
            [dict(kind=k, text=t, media_ref=m, offset=o)
             for k, t, m, o in synth.generate_doc(d)]
            for d in docs
        ],
    })
    kw = dict(with_colspans=True, row_model="anchor")
    exp = pipeline.extract_nested_batch(pdf.iloc[1:], **kw)
    union, calls = pipeline._column_union, []

    def fail_first_doc(*a):  # docs run in order: call 1 is docs[0]
        calls.append(1)
        if len(calls) == 1:
            raise RuntimeError("injected")
        return union(*a)

    monkeypatch.setattr(pipeline, "_column_union", fail_first_doc)
    got = pipeline.extract_nested_batch(pdf, **kw)
    assert len(exp) > 0 and got.equals(exp)
    calls.clear()
    flat = pipeline.extract_pandas_batch(pdf)
    assert (flat.kind == "error").sum() == 1
