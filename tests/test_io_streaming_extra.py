"""K1/K2 sink round-trips, watermark late-data semantics, stateful
streaming, and the skew-salting join."""

from __future__ import annotations

import glob
import time

from pyspark.sql import functions as F

from hdinsight_pyspark_cntk_integration_spark import streaming as st
from hdinsight_pyspark_cntk_integration_spark.operators import relational as rel
from hdinsight_pyspark_cntk_integration_spark.sources import io as eio
from hdinsight_pyspark_cntk_integration_spark.sources.catalog import load_table


def test_single_csv_roundtrip(spark, tmp_path, sf_dir):
    """K1 (reference README.md:95,217): one CSV file with header,
    overwrite mode; K2: schema'd read-back."""
    nation = load_table(spark, sf_dir, "nation")
    out = str(tmp_path / "nation_csv")
    eio.write_single_csv(nation, out)
    files = glob.glob(f"{out}/part-*.csv")
    assert len(files) == 1  # repartition(1) => exactly one data file
    back = eio.read_csv(
        spark, out, schema="n_nationkey int, n_name string, n_regionkey int"
    )
    assert back.count() == nation.count()
    a = {tuple(r) for r in nation.collect()}
    b = {tuple(r) for r in back.collect()}
    assert a == b
    # overwrite is idempotent
    eio.write_single_csv(nation, out)
    assert len(glob.glob(f"{out}/part-*.csv")) == 1


def test_partitioned_parquet_write(spark, tmp_path, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    out = str(tmp_path / "docs_by_lang")
    eio.write_parquet(docs, out, partition_by=["lang"])
    assert glob.glob(f"{out}/lang=*"), "hive-style partition dirs expected"
    back = spark.read.parquet(out)
    assert back.count() == docs.count()
    # partition pruning: a lang filter should scan only one partition dir
    from plan_checks import formatted_plan

    pruned = back.filter(F.col("lang") == "en")
    assert pruned.count() == docs.filter(F.col("lang") == "en").count()
    assert "PartitionFilters: [isnotnull(lang" in formatted_plan(pruned)


def test_jsonl_roundtrip_partitioned(spark, tmp_path, sf_dir):
    """JSON-lines sink/source: gzip'd, lang-partitioned write; schema'd
    read-back preserves values; explicit-schema read prunes parsing."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source"
    )
    out = str(tmp_path / "docs_jsonl")
    eio.write_jsonl(docs, out, partition_by=["lang"])
    assert glob.glob(f"{out}/lang=*/*.json.gz"), "partition dirs + gzip expected"
    back = spark.read.schema("doc_id long, text string, source string, lang string").json(out)
    assert back.count() == docs.count()
    a = {tuple(sorted(r.asDict().items())) for r in docs.collect()}
    b = {tuple(sorted(r.asDict().items())) for r in back.collect()}
    assert a == b


def test_watermark_drops_late_rows(spark, tmp_path):
    """Late-data policy: rows older than watermark are dropped from the
    stateful agg (SURVEY.md §7 Phase 5)."""
    src = str(tmp_path / "late_src")
    ckpt = str(tmp_path / "late_ckpt")
    raw_schema = "event_id long, ts string, user_id long, event_type string, value double, props string"

    def mk(rows):
        return spark.createDataFrame(rows, raw_schema).withColumn(
            "ts", F.to_timestamp("ts")
        )

    fresh = [
        (1, "2024-01-02 10:05:00", 1, "view", 1.0, "{}"),
        (2, "2024-01-02 10:45:00", 1, "view", 1.0, "{}"),
        (3, "2024-01-02 11:20:00", 2, "view", 1.0, "{}"),
    ]
    mk(fresh).write.mode("append").parquet(src)

    # no maxFilesPerTrigger: each processAllAvailable is ONE batch over
    # everything new, so watermark advancement is deterministic (a
    # per-file trigger makes batch boundaries depend on file-listing
    # order, and the late row can slip into a batch whose watermark
    # hasn't seen the fresh maximum yet — observed flake).
    stream = spark.readStream.schema(mk(fresh).schema).parquet(src)
    agg = st.tumbling_counts(st.with_watermark(stream, delay="0 seconds"), "1 hour")
    # append mode: a window is emitted once the watermark passes its end,
    # and rows behind the watermark are dropped from state entirely.
    q = (
        agg.writeStream.format("memory")
        .queryName("late_t")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .start()
    )
    q.processAllAvailable()
    # watermark is now ~2024-01-02 11:20; append a file with much older rows
    very_late = [(99, "2024-01-01 05:00:00", 3, "view", 1.0, "{}")]
    mk(very_late).write.mode("append").parquet(src)
    q.processAllAvailable()
    # one more empty-ish batch so closed windows flush
    mk(fresh[-1:]).write.mode("append").parquet(src)
    q.processAllAvailable()
    got = spark.sql("select * from late_t").toPandas()
    q.stop()
    days = {str(d)[:10] for d in got["window_start"]}
    assert "2024-01-02" in days
    assert "2024-01-01" not in days, "row behind the watermark must be dropped"


def test_stateful_running_counts(spark, tmp_path, sf_dir):
    """applyInPandasWithState: per-user cumulative counts across multiple
    micro-batches converge to the batch group counts."""
    ev = load_table(spark, sf_dir, "events")
    src = str(tmp_path / "stateful_src")
    # several files => several micro-batches under maxFilesPerTrigger=1
    ev.repartition(4).write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(ev.schema).option("maxFilesPerTrigger", 1).parquet(src)
    out = st.running_counts_stateful(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("stateful_t")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "stateful_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = (
        spark.sql("select user_id, max(total) as total from stateful_t group by user_id")
        .toPandas()
        .set_index("user_id")["total"]
    )
    exp = ev.groupBy("user_id").count().toPandas().set_index("user_id")["count"]
    assert len(got) == len(exp)
    for uid, n in exp.items():
        assert int(got[uid]) == int(n)


def test_salted_join_rejects_right_and_full(spark):
    """right/full would emit unmatched right rows once per salt bucket —
    the operator refuses rather than silently duplicating."""
    import pytest

    df = spark.range(4).select(F.col("id").alias("k"))
    for how in ("right", "full", "outer"):
        with pytest.raises(ValueError, match="salted_join supports"):
            rel.salted_join(df, df, "k", salt_buckets=2, how=how)


def test_salted_join_accepts_spark_aliases(spark):
    """Spark's standard alias spellings for left-preserving joins must not
    raise (left_outer/leftouter/left_semi/left_anti are all salt-safe)."""
    left = spark.createDataFrame([(1, "a"), (2, "b")], "k int, lv string")
    right = spark.createDataFrame([(1, "x")], "k int, rv string")
    assert rel.salted_join(left, right, "k", 2, how="left_outer").count() == 2
    assert rel.salted_join(left, right, "k", 2, how="leftouter").count() == 2
    assert rel.salted_join(left, right, "k", 2, how="left_semi").count() == 1
    anti = rel.salted_join(left, right, "k", 2, how="left_anti")
    assert [r["k"] for r in anti.collect()] == [2]


def test_salted_join_equals_plain_join(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    plain = li.join(orders.select("o_orderkey", "o_orderstatus"),
                    li.l_orderkey == F.col("o_orderkey")).count()
    # salted variant with renamed key on both sides
    left = li.withColumnRenamed("l_orderkey", "k")
    right = orders.select(F.col("o_orderkey").alias("k"), "o_orderstatus")
    salted = rel.salted_join(left, right, "k", salt_buckets=4)
    assert salted.count() == plain


def test_bucketed_join_no_shuffle(spark, sf_dir):
    """Two tables bucketed on the join key join with zero exchanges —
    the pre-shuffled warehouse layout for repeated fact-fact joins."""
    from plan_checks import count_shuffles
    from hdinsight_pyspark_cntk_integration_spark.sources import io as eio
    from hdinsight_pyspark_cntk_integration_spark.sources.catalog import load_table

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    eio.write_bucketed(li, "li_bkt", 4, "l_orderkey")
    eio.write_bucketed(orders, "ord_bkt", 4, "o_orderkey")
    try:
        a = spark.table("li_bkt")
        b = spark.table("ord_bkt")
        # MERGE hint: at fixture scale the planner would broadcast instead
        # (disabling bucketed reads); the SMJ path is the one that matters
        # at warehouse scale, and on bucketed tables it needs no exchange.
        joined = a.hint("MERGE").join(b, a.l_orderkey == b.o_orderkey)
        assert count_shuffles(joined) == 0
        # and the result matches the plain (shuffled) join
        plain = li.join(orders, li.l_orderkey == orders.o_orderkey)
        assert joined.count() == plain.count()
    finally:
        spark.sql("DROP TABLE IF EXISTS li_bkt")
        spark.sql("DROP TABLE IF EXISTS ord_bkt")


def test_partitioned_write_prunes_partitions(spark, sf_dir, tmp_path):
    """Hive-style partitionBy layout + filter → Spark reads ONLY the
    matching partition directories (PartitionFilters, not a full scan) —
    the layout that turns a 100 TB scan into a per-slice read."""
    from plan_checks import formatted_plan
    from hdinsight_pyspark_cntk_integration_spark.sources import io as eio
    from hdinsight_pyspark_cntk_integration_spark.sources.catalog import load_table

    ev = load_table(spark, sf_dir, "events")
    out = str(tmp_path / "events_by_type")
    eio.write_parquet(ev, out, partition_by=["event_type"])
    back = spark.read.parquet(out).filter("event_type = 'purchase'")
    plan = formatted_plan(back)
    assert "PartitionFilters" in plan and "purchase" in plan
    assert back.count() == ev.filter("event_type = 'purchase'").count()


def test_orc_roundtrip_with_pushdown(spark, tmp_path, sf_dir):
    """ORC sink/source round-trip; filters reach the ORC scan the same
    way they do for parquet (PushedFilters in the formatted plan)."""
    from plan_checks import formatted_plan

    nation = load_table(spark, sf_dir, "nation")
    out = str(tmp_path / "nation_orc")
    eio.write_orc(nation, out)
    back = spark.read.orc(out)
    assert {tuple(r) for r in back.collect()} == {tuple(r) for r in nation.collect()}
    plan = formatted_plan(back.filter(F.col("n_nationkey") > 2).select("n_name"))
    assert "PushedFilters" in plan and "n_nationkey" in plan


def test_write_zordered_clusters_both_columns(spark, tmp_path, sf_dir):
    """Z-ordered write: after range-clustering on the Morton key of
    (l_partkey, l_suppkey), each output file covers a small slice of
    BOTH key ranges — the per-file min/max span must shrink vs the
    unclustered layout on both columns (that span is exactly what
    row-group skipping prunes on)."""
    import pyspark.sql.functions as SF

    from hdinsight_pyspark_cntk_integration_spark.functions.layout import zorder_key2

    # synthetic uniform 2-D points: both dims need cardinality >> file
    # count for clustering to be observable (sf0.001's l_suppkey has 10
    # distinct values — every layout spans all of them)
    li = spark.range(40_000).select(
        SF.col("id"),
        SF.pmod(SF.xxhash64("id"), SF.lit(4096)).alias("l_partkey"),
        SF.pmod(SF.xxhash64("id", SF.lit(1)), SF.lit(4096)).alias("l_suppkey"),
    )
    out = str(tmp_path / "li_z")
    (
        li.withColumn("__zkey", zorder_key2(SF.col("l_partkey"), SF.col("l_suppkey")))
        .repartitionByRange(8, "__zkey")
        .sortWithinPartitions("__zkey")
        .drop("__zkey")
        .write.parquet(out)
    )
    back = spark.read.parquet(out)
    assert back.count() == li.count()

    def mean_file_span(df, col):
        spans = (
            df.groupBy(SF.input_file_name().alias("f"))
            .agg((SF.max(col) - SF.min(col)).alias("span"))
            .agg(SF.avg("span"))
            .first()[0]
        )
        return spans

    # unclustered baseline: random 8-file split of the same data
    base = str(tmp_path / "li_plain")
    li.repartition(8).write.parquet(base)
    plain = spark.read.parquet(base)
    for col in ("l_partkey", "l_suppkey"):
        assert mean_file_span(back, col) < 0.8 * mean_file_span(plain, col), col


def test_sample_k_per_group_exact_and_stable(spark, sf_dir):
    from hdinsight_pyspark_cntk_integration_spark.operators import pipeline as pl

    docs = load_table(spark, sf_dir, "documents")
    s1 = pl.sample_k_per_group(docs, k=7, group_col="lang").select("doc_id", "lang")
    sizes = {r["lang"]: r["n"] for r in s1.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    totals = {r["lang"]: r["n"] for r in docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    for lang, n in sizes.items():
        assert n == min(7, totals[lang]), lang
    # deterministic: same sample after an arbitrary repartition
    s2 = pl.sample_k_per_group(docs.repartition(13), k=7, group_col="lang").select("doc_id", "lang")
    assert {tuple(r) for r in s1.collect()} == {tuple(r) for r in s2.collect()}
    # nested-ish: the k=3 sample is a subset of the k=7 sample
    s3 = pl.sample_k_per_group(docs, k=3, group_col="lang").select("doc_id", "lang")
    assert {tuple(r) for r in s3.collect()} <= {tuple(r) for r in s1.collect()}


def test_jsonl_corrupt_record_handling(spark, tmp_path):
    """Production ingest reality: malformed JSONL lines must be
    quarantined, not crash the job (PERMISSIVE + _corrupt_record) or be
    silently droppable on request (DROPMALFORMED)."""
    p = tmp_path / "dirty.jsonl"
    p.write_text('{"doc_id": 1, "text": "ok"}\n{not json at all\n{"doc_id": 2, "text": "fine"}\n')
    schema = "doc_id long, text string, _corrupt_record string"
    permissive = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(str(p))
    )
    rows = permissive.collect()
    assert len(rows) == 3
    bad = [r for r in rows if r["_corrupt_record"] is not None]
    assert len(bad) == 1 and bad[0]["doc_id"] is None
    dropped = (
        spark.read.schema("doc_id long, text string")
        .option("mode", "DROPMALFORMED")
        .json(str(p))
    )
    assert {r["doc_id"] for r in dropped.collect()} == {1, 2}


def test_parquet_schema_evolution_mergeschema(spark, tmp_path):
    """Additive schema evolution: a reader over old+new files with
    mergeSchema=true sees the union schema, old rows NULL-filled in the
    new column — how a long-lived corpus grows columns without rewrite."""
    base = str(tmp_path / "evolving")
    spark.createDataFrame([(1, "a")], "doc_id long, text string").write.parquet(
        base + "/part=v1"
    )
    spark.createDataFrame(
        [(2, "b", "en")], "doc_id long, text string, lang string"
    ).write.parquet(base + "/part=v2")
    merged = spark.read.option("mergeSchema", "true").parquet(base)
    assert set(merged.columns) == {"doc_id", "text", "lang", "part"}
    got = {r["doc_id"]: r["lang"] for r in merged.collect()}
    assert got == {1: None, 2: "en"}


def test_jsonl_manifest_sink_roundtrip_and_orphan_invisibility(spark, tmp_path):
    """The jsonl_manifest Python DataSource writer: (1) committed data
    round-trips exactly; (2) an orphan part file (simulating a lost task
    attempt's leftovers) is invisible to manifest readers; (3) row
    counts in the manifest match."""
    import json
    import os

    from hdinsight_pyspark_cntk_integration_spark.sources.jsonl_sink import (
        MANIFEST_NAME,
        JsonlManifestDataSource,
        read_jsonl_manifest,
    )

    spark.dataSource.register(JsonlManifestDataSource)
    out = str(tmp_path / "sink")
    df = spark.range(100).selectExpr(
        "id", "cast(id % 7 as string) as grp", "cast(id * 2.5 as double) as val"
    ).repartition(4)
    df.write.format("jsonl_manifest").mode("append").option("path", out).save()

    with open(os.path.join(out, MANIFEST_NAME)) as fh:
        manifest = json.load(fh)
    assert manifest["total_rows"] == 100
    assert len(manifest["files"]) == 4
    assert sum(f["rows"] for f in manifest["files"]) == 100

    # plant an orphan file: a reader going through the manifest must not see it
    with open(os.path.join(out, "part-99999-deadbeef.jsonl"), "w") as fh:
        fh.write('{"grp": "ORPHAN", "id": 424242, "val": 0.0}\n')

    back = read_jsonl_manifest(spark, out, schema="grp string, id long, val double")
    got = back.toPandas().sort_values("id").reset_index(drop=True)
    exp = df.toPandas().sort_values("id").reset_index(drop=True)[got.columns]
    assert len(got) == 100
    assert 424242 not in set(got["id"])
    assert got.equals(exp)


# --------------------------------------------------------------------------
# partition-planned streaming Python DataSource (sharded_replay)
# --------------------------------------------------------------------------
def test_sharded_replay_matches_batch_and_batches_are_bounded(spark, sf_dir, tmp_path):
    import time

    from hdinsight_pyspark_cntk_integration_spark.sources.sharded_replay import (
        ShardedReplayDataSource,
    )

    spark.dataSource.register(ShardedReplayDataSource)
    path = f"{sf_dir}/events.parquet"
    stream = (
        spark.readStream.format("sharded_replay")
        .option("path", path)
        .option("rows_per_batch", "300")
        .option("slices_per_batch", "3")
        .load()
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("sharded_replay_t")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        deadline = time.time() + 120
        while time.time() < deadline:
            if spark.sql("SELECT COUNT(*) n FROM sharded_replay_t").first()["n"] >= 1000:
                break
            time.sleep(0.5)
        # exactly the batch table, no dupes/drops
        got = spark.sql(
            "SELECT COUNT(*) n, SUM(event_id) s FROM sharded_replay_t"
        ).first()
        exp = (
            spark.read.parquet(path)
            .selectExpr("COUNT(*) n", "SUM(event_id) s")
            .first()
        )
        assert (got["n"], got["s"]) == (exp["n"], exp["s"])
        # bounded per-task ranges: 1000 rows at 300/batch x 3 slices means
        # the catch-up batch plans ceil(1000/300)*3 = 12 partitions
        from hdinsight_pyspark_cntk_integration_spark.sources.sharded_replay import (
            ShardedReplayStreamReader,
        )

        r = ShardedReplayStreamReader(
            {"path": path, "rows_per_batch": "300", "slices_per_batch": "3"}
        )
        parts = r.partitions({"index": 0}, {"index": 1000})
        assert len(parts) == 12
        assert max(p.end - p.start for p in parts) <= 100
    finally:
        q.stop()


def test_sharded_replay_schema_inference_and_validation(spark, sf_dir):
    from hdinsight_pyspark_cntk_integration_spark.sources.sharded_replay import (
        ShardedReplayStreamReader,
        _ddl_from_parquet,
    )

    ddl = _ddl_from_parquet(f"{sf_dir}/events.parquet")
    assert "event_id bigint" in ddl and "ts timestamp" in ddl
    import pytest as _pytest

    with _pytest.raises(ValueError, match="path"):
        ShardedReplayStreamReader({})
    with _pytest.raises(ValueError, match="rows_per_batch"):
        ShardedReplayStreamReader(
            {"path": f"{sf_dir}/events.parquet", "rows_per_batch": "0"}
        )


def test_sharded_replay_row_group_pruning_slices_exactly(spark, sf_dir, tmp_path):
    # write a multi-row-group file, then read a range crossing a boundary
    import pyarrow as pa
    import pyarrow.parquet as pq

    from hdinsight_pyspark_cntk_integration_spark.sources.sharded_replay import (
        ShardedReplayStreamReader,
        _RangePartition,
    )

    path = str(tmp_path / "rg.parquet")
    pq.write_table(
        pa.table({"i": list(range(100))}), path, row_group_size=10
    )
    r = ShardedReplayStreamReader({"path": path})
    got = []
    for b in r.read(_RangePartition(path, 37, 63)):
        got.extend(b.column("i").to_pylist())
    assert got == list(range(37, 63))


def test_sharded_replay_restart_resumes_from_checkpoint(spark, sf_dir, tmp_path):
    """Kill the query mid-stream, restart with the same checkpoint into
    the exactly-once FILE sink: the output must end exactly complete —
    no dupes, no drops — exercising the documented planner-cursor reset
    (a fresh reader restarts its local cursor at 0 while Spark resumes
    from the WAL offset; until the cursor catches up, partitions()
    returns empty ranges). The memory sink can't recover a checkpoint;
    the parquet sink's own commit manifest is the recovery contract."""
    import time

    from hdinsight_pyspark_cntk_integration_spark.sources.sharded_replay import (
        ShardedReplayDataSource,
    )

    spark.dataSource.register(ShardedReplayDataSource)
    path = f"{sf_dir}/events.parquet"
    ckpt = str(tmp_path / "ckpt_restart")
    out = str(tmp_path / "out_restart")

    def start():
        stream = (
            spark.readStream.format("sharded_replay")
            .option("path", path)
            .option("rows_per_batch", "200")
            .load()
        )
        return (
            stream.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(processingTime="0 seconds")
            .start()
        )

    total = spark.read.parquet(path).count()
    q1 = start()
    try:
        deadline = time.time() + 60
        while time.time() < deadline:
            p1 = q1.lastProgress
            if p1 is not None and p1["batchId"] >= 0:
                break
            time.sleep(0.2)
    finally:
        q1.stop()
    # restart on the same checkpoint and drain to completion
    q2 = start()
    try:
        deadline = time.time() + 120
        while time.time() < deadline:
            p2 = q2.lastProgress
            if p2 and p2["numInputRows"] == 0:
                break
            time.sleep(0.3)
    finally:
        q2.stop()
    got = spark.read.parquet(out)
    assert got.count() == total  # exactly-once: no dupes, no drops
    assert got.select("event_id").distinct().count() == total


def test_sharded_replay_bounded_admission_and_midbacklog_restart(spark, sf_dir, tmp_path):
    """Round-7 (verdict order 7): with max_rows_per_batch the backlog
    drains across MANY bounded commits (>= 3 non-empty batches) instead
    of one whole-backlog transaction, and a restart mid-backlog stays
    exactly-once: the fresh reader re-learns the admission floor from
    the engine's recovery partitions() call before answering its first
    latestOffset, so offsets never go backward."""
    import time

    from hdinsight_pyspark_cntk_integration_spark.sources.sharded_replay import (
        ShardedReplayDataSource,
    )

    spark.dataSource.register(ShardedReplayDataSource)
    path = f"{sf_dir}/events.parquet"
    ckpt = str(tmp_path / "ckpt_adm")
    out = str(tmp_path / "out_adm")
    total = spark.read.parquet(path).count()
    step = max(1, total // 5)

    def start():
        stream = (
            spark.readStream.format("sharded_replay")
            .option("path", path)
            .option("rows_per_batch", "200")
            .option("max_rows_per_batch", str(step))
            .load()
        )
        return (
            stream.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(processingTime="0 seconds")
            .start()
        )

    q1 = start()
    batches1 = []
    try:
        deadline = time.time() + 90
        while time.time() < deadline:
            p = q1.lastProgress
            if p is not None and p["batchId"] >= 1:
                break  # at least one committed batch, backlog remains
            time.sleep(0.2)
        batches1 = [pp["numInputRows"] for pp in q1.recentProgress]
    finally:
        q1.stop()
    mid = spark.read.parquet(out).count()
    assert 0 < mid < total  # genuinely mid-backlog at the restart point

    q2 = start()
    try:
        deadline = time.time() + 120
        while time.time() < deadline:
            p = q2.lastProgress
            if p and p["numInputRows"] == 0:
                break
            time.sleep(0.3)
        batches2 = [pp["numInputRows"] for pp in q2.recentProgress]
    finally:
        q2.stop()

    got = spark.read.parquet(out)
    assert got.count() == total  # exactly-once across the restart
    assert got.select("event_id").distinct().count() == total
    nonempty = [n for n in batches1 + batches2 if n > 0]
    assert len(nonempty) >= 3  # admission split the backlog
    assert all(n <= step for n in nonempty)  # every batch bounded
