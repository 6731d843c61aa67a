"""Plan-quality pins: pushdown, pruning, and broadcast must survive
refactors (the properties that matter at 100 TB, SURVEY.md §4)."""

from __future__ import annotations

from key_resource_table_extractor_spark.operators import relational
from key_resource_table_extractor_spark.plans import (
    has_broadcast_join,
    has_pushed_filters,
)
from key_resource_table_extractor_spark.plans.audit import read_schema_columns

SF_DIR = "/root/testdata/sf0.001"


def test_pricing_summary_pushdown_and_pruning(spark):
    df = relational.q_pricing_summary(spark, SF_DIR)
    assert has_pushed_filters(df, "l_shipdate")
    cols = read_schema_columns(df)
    assert "l_comment" not in cols and "l_orderkey" not in cols
    assert set(cols) <= {
        "l_quantity", "l_extendedprice", "l_discount", "l_returnflag",
        "l_linestatus", "l_shipdate",
    }


def test_top_revenue_uses_broadcast(spark):
    df = relational.q_top_revenue_nations(spark, SF_DIR)
    assert has_broadcast_join(df)


def test_anti_join_prunes_columns(spark):
    df = relational.q_orders_without_returns(spark, SF_DIR)
    cols = read_schema_columns(df)
    # lineitem side must read only the join key + filter column
    assert "l_extendedprice" not in cols
    assert "l_returnflag" in cols


def test_similarity_join_key_is_hashed(spark):
    """similarity_match_join's coverage join must key on the int64 word
    hash — no string word column in any join key."""
    from key_resource_table_extractor_spark.plans.audit import explain_str

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = explain_str(relational.similarity_match_join(docs))
    key_lines = [
        ln.strip() for ln in plan.splitlines()
        if ln.strip().startswith(("Left keys", "Right keys"))
    ]
    w_key_lines = [ln for ln in key_lines if "[w#" in ln]
    assert w_key_lines, key_lines
    # the w join key is the xxhash64 output (bigint 'L' suffix), not text
    assert all("L]" in ln or "L," in ln for ln in w_key_lines), w_key_lines


def test_ngram_self_join_shuffles_hashes_not_text(spark):
    """The near-dup self-join key must be the int64 shingle hash: the
    exchange before the join carries (h, doc_id), never shingle strings."""
    from key_resource_table_extractor_spark.operators import dedup
    from key_resource_table_extractor_spark.plans.audit import explain_str

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = explain_str(dedup.ngram_jaccard_pairs(docs))
    key_lines = [
        ln.strip() for ln in plan.splitlines()
        if ln.strip().startswith(("Left keys", "Right keys"))
    ]
    assert key_lines and any("[h#" in ln for ln in key_lines), key_lines
    assert not any("[sh#" in ln for ln in key_lines), key_lines
    # and no string shingle column survives anywhere in the physical plan
    assert "sh#" not in plan


def test_simhash_signature_is_map_side(spark):
    """The simhash signature is a per-row function of the token set and
    must compute with ZERO exchanges (the naive explode→distinct→groupBy
    shape shuffles the whole token stream twice at 100 TB)."""
    from key_resource_table_extractor_spark.operators import dedup
    from key_resource_table_extractor_spark.plans.audit import explain_str

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = explain_str(dedup.simhash_df(docs))
    assert "Exchange" not in plan, plan


def test_minhash_signatures_are_map_side(spark):
    """Minhash signatures, like simhash, are per-row functions of the
    shingle set: zero exchanges in their plan."""
    from key_resource_table_extractor_spark.operators import dedup
    from key_resource_table_extractor_spark.plans.audit import explain_str

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = explain_str(dedup.minhash_signatures(docs))
    assert "Exchange" not in plan, plan


def test_asof_join_is_one_window_pass_no_join(spark):
    """The as-of join must compile to a window pass over the union — ONE
    shuffle on the key, zero Join nodes (the range-join formulation would
    explode candidate pairs per key at scale)."""
    from key_resource_table_extractor_spark.plans.audit import explain_str

    left = spark.range(10).selectExpr(
        "id % 3 AS k", "timestamp_seconds(id * 60) AS ts", "id AS lv"
    )
    right = spark.range(10).selectExpr(
        "id % 3 AS k", "timestamp_seconds(id * 45) AS ts", "id AS rv"
    )
    plan = explain_str(
        relational.asof_join(left, right, key="k", ts="ts", right_cols=["rv"])
    )
    assert "Window" in plan
    assert "Join" not in plan, plan
    # exactly one exchange: the window's hashpartitioning on the key
    n_exchanges = plan.count(") Exchange")
    assert n_exchanges == 1, plan


def test_bm25_broadcasts_query_side(spark):
    """BM25's scoring join must broadcast the (tiny) query/probe term set
    onto the corpus posting lists — the corpus tf table must not shuffle
    for that join. Auto-broadcast is disabled so the ONLY possible
    BroadcastHashJoin is the explicit hint on the query side (at the tiny
    test SF the planner would otherwise broadcast everything and the test
    could never fail)."""
    from key_resource_table_extractor_spark.operators.text import bm25_topk

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        assert has_broadcast_join(bm25_topk(docs))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_boilerplate_hot_set_is_broadcast_anti_join(spark):
    """Boilerplate removal must apply the hot-sentence set as a BROADCAST
    anti join — the exploded sentence stream must not shuffle for the
    removal (auto-broadcast off so only the explicit hint can pass)."""
    from key_resource_table_extractor_spark.operators.dedup import (
        remove_boilerplate,
    )
    from key_resource_table_extractor_spark.plans.audit import explain_str

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = explain_str(remove_boilerplate(docs))
        assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_pii_redaction_is_map_side(spark):
    """Per-doc PII counting/redaction is a pure map expression: the only
    exchange in the gate query is the final short-key source aggregate."""
    from key_resource_table_extractor_spark.operators.text import (
        q_pii_redaction_stats,
    )
    from key_resource_table_extractor_spark.plans.audit import explain_str

    plan = explain_str(q_pii_redaction_stats(spark, SF_DIR))
    # one hash exchange (the agg); the only other is the final tiny
    # rangepartitioning for the 20-row ordered output
    assert plan.count("hashpartitioning") == 1, plan
    assert plan.count("rangepartitioning") == 1, plan


def test_pq_codes_compute_map_side(spark):
    """PQ encoding is a per-row function of the vector: zero exchanges —
    the corpus' raw vectors never shuffle to be coded."""
    from key_resource_table_extractor_spark.operators import similarity
    from key_resource_table_extractor_spark.plans.audit import explain_str

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    cbs = similarity.pq_codebooks(emb, dim=64)
    assert "Exchange" not in explain_str(similarity.pq_codes(emb, cbs))


def test_domain_mixture_broadcasts_quotas(spark):
    """The quota side of the mixture join is a per-source aggregate and
    must stay broadcast regardless of corpus size (auto-broadcast off so
    only the explicit hints can satisfy the check)."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = relational.q_domain_mixture_sample(spark, SF_DIR)
        assert has_broadcast_join(df)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_single_partition_detector_fires_on_bad_shape(spark):
    """Canary: the hazard detector must flag the textbook scale-killer —
    an unpartitioned row_number over a raw table scan — so the registry
    sweep below can't pass vacuously."""
    from pyspark.sql import Window, functions as F

    from key_resource_table_extractor_spark.plans.audit import (
        single_partition_hazards,
    )

    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    bad = orders.withColumn(
        "seq", F.row_number().over(Window.orderBy(F.desc("o_totalprice")))
    )
    assert single_partition_hazards(bad)
    # the detector must also see through non-AQE formatted plans, whose
    # tree lines carry the '* ' whole-stage-codegen prefix
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        bad2 = spark.read.parquet(f"{SF_DIR}/orders.parquet").withColumn(
            "seq",
            F.row_number().over(Window.orderBy(F.desc("o_totalprice"))),
        )
        assert single_partition_hazards(bad2)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)
    # and the fixed query is clean
    assert not single_partition_hazards(
        relational.q_seq_ids_global(spark, SF_DIR)
    )


def test_no_query_moves_a_raw_scan_through_one_task(spark):
    """Registry-wide sweep: no query's physical plan may contain an
    Exchange SinglePartition fed by a raw file scan (no aggregate/limit
    in between). Post-aggregation unpartitioned windows — e.g.
    monthly_order_trend's lag over the ~months-cardinality table — are
    bounded below and pass without an allowlist; anything new that drags
    an unbounded table through one task fails here by name."""
    import __spark_entry__ as entry
    from key_resource_table_extractor_spark.plans.audit import (
        single_partition_hazards,
    )

    # queries whose bounded input the detector cannot see statically —
    # none today; add (name, reason) pairs only with a justifying comment
    allow: dict[str, str] = {}
    offenders = {}
    for name, fn in entry.queries().items():
        if name in allow:
            continue
        hazards = single_partition_hazards(fn(spark, SF_DIR))
        if hazards:
            offenders[name] = hazards
    assert not offenders, offenders


def test_ivf_assignment_is_map_side_arrow(spark):
    """IVF corpus assignment is ONE MapInArrow over the scan: zero
    exchanges, no literal centroid trees in the plan (the round-5
    interpreted-HOF regression pin — at derived nlist the expression
    scorer cost 13.8 s at sf0.1, the Arrow kernel 3.6 s)."""
    from key_resource_table_extractor_spark.operators import similarity
    from key_resource_table_extractor_spark.plans.audit import explain_str

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    cents = similarity.ivf_centroids(emb, 16)
    plan = explain_str(similarity.ivf_assign_arrow(emb, cents))
    assert "Exchange" not in plan
    assert "MapInArrow" in plan
    # the centroid matrix rides in the closure, not the plan: no literal
    # array-of-array scorer nodes
    assert "transform(" not in plan


def test_extraction_is_one_map_in_arrow_stage(spark, tmp_path):
    """Extraction has ONE Python boundary: every extraction plan — the
    job over a parquet spans table (flat and nested) and the four
    extract_* entry queries — holds exactly one MapInArrow node and no
    other Python node (no MapInPandas, no grouped FlatMapGroupsInPandas
    shape, no per-row eval)."""
    import os
    import re
    import sys

    from key_resource_table_extractor_spark import job
    from key_resource_table_extractor_spark.plans.audit import explain_str

    sys.path.insert(
        0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    import __spark_entry__ as entry

    path = str(tmp_path / "spans")
    job.synthesize_spans(spark, 8, partitions=1).write.parquet(path)
    spans = job.read_spans(spark, path)
    plans = {
        "extract": job.extract(spans),
        "extract_nested": job.extract_nested(spans),
        "extract_nested_colspans": job.extract_nested(
            spans, with_colspans=True, row_model="anchor"
        ),
    }
    queries = entry.queries()
    for name in ("extract_spans", "extract_nested", "extract_nested_colspans",
                 "extract_spans_anchor"):
        plans[name + "_entry"] = queries[name](spark, SF_DIR)
    for name, df in plans.items():
        nodes = re.findall(r"^\(\d+\) (\w+)", explain_str(df), re.M)
        python_nodes = [
            n for n in nodes if re.search("Pandas|Arrow|Python", n)
        ]
        assert python_nodes == ["MapInArrow"], (name, nodes)
