"""Physical-plan shape assertions: the plans we WANT at 100TB, not just
plans that pass. Checked via the executed/optimized plan text."""

import re

import pytest
from pyspark.sql import functions as F

from xmlschema_spark import compile_plan
from xmlschema_spark.operators.dedup import (hamming_near_dups,
                                             lsh_bucket_pairs,
                                             simhash_near_dups)
from xmlschema_spark.operators.identity import keyref_violations
from xmlschema_spark.operators.row_checks import row_violations
from xmlschema_spark.queries import LINEITEM_SPEC
from xmlschema_spark.specs import KeyrefSpec


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_row_checks_prune_to_spec_columns(spark, sf_dir):
    """The facet scan must read ONLY the columns the spec mentions —
    column pruning reaching the parquet ReadSchema."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    p = _plan(row_violations(li, compile_plan(LINEITEM_SPEC)))
    # (ReadSchema text is truncated with '...' in long plans — parse the
    # FileScan output column list instead)
    scans = re.findall(r"FileScan parquet \[([^\]]*)\]", p)
    assert scans
    read_cols = {c.split("#")[0] for s in scans for c in s.split(",") if c}
    expected = {"l_orderkey", "l_quantity", "l_discount", "l_extendedprice",
                "l_returnflag", "l_linestatus", "l_shipdate"}
    assert read_cols == expected, read_cols


def test_row_checks_single_exchange_free_stage(spark, sf_dir):
    """Row-local validation must be shuffle-free: scan -> project ->
    filter -> generate. Any Exchange in this plan is a bug."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    p = _plan(row_violations(li, compile_plan(LINEITEM_SPEC)))
    assert "Exchange" not in p, p


def test_keyref_broadcasts_small_ref_when_asked(spark, sf_dir):
    """Explicit dimension-table fast path: broadcast_ref=True forces a
    broadcast hash join on the anti-join against the key set."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    v = keyref_violations(li, part,
                          KeyrefSpec("fk", ["l_partkey"], "part", ["p_partkey"]),
                          "l_orderkey", broadcast_ref=True)
    assert "BroadcastHashJoin" in _plan(v)


def test_keyref_default_does_not_force_broadcast(spark, sf_dir):
    """Default (None) must leave the strategy to Catalyst/AQE: with the
    autoBroadcast threshold off (simulating a ref side too big to
    broadcast), the anti-join must compile to SortMergeJoin — a forced
    broadcast of a 10^9-distinct-key referenced table would OOM
    executors at scale."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", None)
    aqe = spark.conf.get("spark.sql.adaptive.autoBroadcastJoinThreshold", None)
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        v = keyref_violations(
            li, part,
            KeyrefSpec("fk", ["l_partkey"], "part", ["p_partkey"]),
            "l_orderkey")
        p = _plan(v)
        assert re.search(r"SortMergeJoin.*LeftAnti", p), p
        assert "BroadcastHashJoin" not in p, p
    finally:
        if old is not None:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        if aqe is not None:
            spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", aqe)


def test_row_checks_whole_stage_codegen(spark, sf_dir):
    """The violation projection must run inside WholeStageCodegen."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    p = _plan(row_violations(li, compile_plan(LINEITEM_SPEC)))
    # '*(n)' operator prefix marks WholeStageCodegen in the compact form
    assert "*(" in p, p


def test_topk_uses_take_ordered(spark, sf_dir):
    """cosine top-k must compile to TakeOrderedAndProject (per-partition
    top-k + merge), never a global Sort of every row."""
    from xmlschema_spark.operators.similarity import cosine_topk
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = [float(x) for x in e.select("embedding").first()[0]]
    p = _plan(cosine_topk(e, "embedding", "vec_id", q, k=5))
    assert "TakeOrderedAndProject" in p


def test_temporal_facet_queries_shuffle_free_and_pruned(spark, sf_dir):
    """Temporal ordered facets are row-local: the whole query must stay
    in one codegen stage with NO Exchange, and the parquet scan must
    prune to the single id column the derived value needs."""
    from xmlschema_spark.queries import QUERIES
    for q, id_col in (("duration_facet_documents", "doc_id"),
                      ("gyear_facet_events", "event_id")):
        p = _plan(QUERIES[q](spark, sf_dir))
        assert "Exchange" not in p, (q, p)
        assert "*(" in p, (q, p)
        scans = re.findall(r"FileScan parquet \[([^\]]*)\]", p)
        cols = {c.split("#")[0] for s in scans for c in s.split(",") if c}
        assert cols == {id_col}, (q, cols)


def test_qdigest_single_exchange_with_partial_agg(spark, sf_dir):
    """The q-digest plan at 10^12 rows: map-side partial aggregation of
    leaf counts (HashAggregate appears on BOTH sides of the single
    Exchange), then the bounded compress stage — no second data
    shuffle of raw rows."""
    from pyspark.sql import functions as F

    from xmlschema_spark.operators.sketch import qdigest
    df = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    leaf = F.expr("least(4095, greatest(0, "
                  "cast(round(l_extendedprice * 100) as bigint) div 4096))")
    plan = qdigest(df.where(F.col("l_extendedprice").isNotNull()),
                   leaf, 12, 64) \
        ._jdf.queryExecution().executedPlan().toString()
    # partial+final combine around exactly one hash Exchange of counts;
    # the _g constant-group exchange moves <= 2^levels count rows
    assert plan.count("HashAggregate") >= 2
    assert "FlatMapGroupsInPandas" in plan or "ArrowEvalPython" in plan
    exchanges = plan.count("Exchange")
    assert exchanges <= 2, plan[:2000]


def test_nested_record_prunes_struct_branches(spark, tmp_path):
    """Nested-record facets read ONLY the referenced struct branch: the
    parquet ReadSchema must contain owner.quota and neither owner.name
    nor owner.blob — at 100 TB the unreferenced record fields are never
    decoded (ColumnSpec.parent / dotted-name compilation)."""
    from xmlschema_spark.specs import ColumnSpec, TableSpec
    d = str(tmp_path / "t")
    spark.createDataFrame(
        [("r1", ("a", "1", "zzz"))],
        "rid string, owner struct<name string, quota string, blob string>"
    ).write.mode("overwrite").parquet(d)
    spec = TableSpec(name="t", key_column="rid",
                     columns=[ColumnSpec("owner.quota", "int",
                                         min_inclusive=0,
                                         parent="owner")])
    p = _plan(row_violations(spark.read.parquet(d), compile_plan(spec)))
    m = re.search(r"ReadSchema: ([^\s,]+(?:,[^\s]+)*)", p)
    assert m and "quota" in m.group(0), p[:1500]
    assert "name" not in m.group(0) and "blob" not in m.group(0), \
        m.group(0)
    assert "Exchange" not in p, p[:1500]


def test_record_array_explode_shuffle_free(spark, tmp_path):
    """Record-array element validation = scan -> Generate(explode) ->
    codegen checks: ZERO Exchange at any scale (explode is narrow)."""
    from xmlschema_spark.runner import _record_array_parts
    from xmlschema_spark.specs import (ColumnSpec, RecordArraySpec,
                                       TableSpec)
    d = str(tmp_path / "t2")
    spark.createDataFrame(
        [("r1", [("x", "1")])],
        "rid string, items array<struct<tag string, k string>>"
    ).write.mode("overwrite").parquet(d)
    spec = TableSpec(
        name="t", key_column="rid", columns=[],
        record_arrays=[RecordArraySpec(
            name="items", min_occurs=1,
            fields=[ColumnSpec("items.k", "int", min_inclusive=0,
                               parent="items")])])
    plan = compile_plan(spec)
    parts = _record_array_parts(spark.read.parquet(d), plan, spec)
    assert len(parts) == 1
    p = _plan(parts[0])
    assert "Exchange" not in p, p[:1500]
    assert "Generate explode" in p, p[:1500]


def test_drift_multi_column_two_scans(spark, sf_dir):
    """Multi-column drift must cost TWO data scans regardless of how
    many columns are profiled (round 7): all k*n_bins histogram
    counters fold into one aggregation per side; KL assembly joins two
    1-row frames. A per-column histogram loop would show 2k scans —
    the difference between 2 and 2k full passes at 10^12 rows."""
    from xmlschema_spark.operators.drift import drift_report
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    cur = li.where(F.col("l_orderkey") % 2 == 0)
    ref = li.where(F.col("l_orderkey") % 2 == 1)
    bounds = {"l_quantity": (1.0, 50.0), "l_discount": (0.0, 0.1),
              "l_extendedprice": (900.0, 110000.0)}
    rep = drift_report(cur, ref,
                       ["l_discount", "l_extendedprice", "l_quantity"],
                       n_bins=32, bounds=bounds)
    p = _plan(rep)
    assert len(re.findall(r"FileScan parquet", p)) == 2, p
    # and the scans prune to the three profiled columns (+ split key)
    scans = re.findall(r"FileScan parquet \[([^\]]*)\]", p)
    read_cols = {c.split("#")[0] for s in scans for c in s.split(",") if c}
    assert read_cols == {"l_orderkey", "l_quantity", "l_discount",
                         "l_extendedprice"}, read_cols


@pytest.mark.parametrize("near_dups", ["lsh", "simhash", "hamming"])
def test_banded_near_dups_single_bucket_shuffle(spark, near_dups):
    """Every banded near-dup path shares one physical plan: ONE bucket
    shuffle (the window cap reuses the groupBy's hash partitioning) plus
    the final distinct, the hot-bucket cap as a WindowGroupLimit before
    collect_list, and never an all-pairs Join."""
    texts = spark.createDataFrame(
        [(str(i), f"x y z w {i % 3}") for i in range(50)],
        "doc_id string, text string")
    if near_dups == "lsh":
        out = lsh_bucket_pairs(texts, "text", "doc_id")
        want = {"id_a": "string", "id_b": "string"}
    elif near_dups == "simhash":
        out = simhash_near_dups(texts, "text", "doc_id")
        want = {"id_a": "string", "id_b": "string", "hamming": "int"}
    else:
        hashes = (spark.range(500)
                  .select(F.col("id").cast("string").alias("doc"),
                          (F.col("id") * 2654435761).cast("long").alias("h")))
        out = hamming_near_dups(hashes, "h", "doc")
        want = {"id_a": "string", "id_b": "string", "hamming": "bigint"}
    p = _plan(out)
    assert p.count("Exchange") == 2, p
    assert "WindowGroupLimit" in p, p
    assert "Join" not in p, p
    assert {f.name: f.dataType.simpleString()
            for f in out.schema.fields} == want


def test_fan_out_adds_no_repartition_when_stats_fill_the_cores(spark):
    """queries._fan_out leaves a scan alone once its size statistic
    covers defaultParallelism x maxPartitionBytes; below that it adds
    one round-robin repartition to the core count."""
    from xmlschema_spark.queries import _fan_out
    df = spark.range(1000)
    size = int(df._jdf.queryExecution().analyzed().stats().sizeInBytes())
    target = spark.sparkContext.defaultParallelism
    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)
    try:
        spark.conf.set(key, str(size // target))
        assert _fan_out(df) is df
        spark.conf.set(key, str(size // target + 1))
        fanned = _fan_out(df)
        assert "RoundRobinPartitioning" in _plan(fanned)
        assert fanned.rdd.getNumPartitions() == target
    finally:
        spark.conf.set(key, old)


def test_fan_out_falls_back_to_partition_count_without_stats(spark):
    """When the _jdf size-statistics call raises, _fan_out decides by
    df.rdd.getNumPartitions() against defaultParallelism instead."""
    from xmlschema_spark.queries import _fan_out
    target = spark.sparkContext.defaultParallelism

    class NoStats:
        def __init__(self, df):
            self.df, self.sparkSession, self.rdd_calls = df, df.sparkSession, 0

        @property
        def _jdf(self):
            raise RuntimeError("size statistics unavailable")

        @property
        def rdd(self):
            self.rdd_calls += 1
            return self.df.rdd

        def repartition(self, n):
            return self.df.repartition(n)

    starved = NoStats(spark.range(0, 100, numPartitions=1))
    out = _fan_out(starved)
    assert starved.rdd_calls == 1
    assert out is not starved and out.rdd.getNumPartitions() == target
    full = NoStats(spark.range(0, 100, numPartitions=target))
    assert _fan_out(full) is full and full.rdd_calls == 1
