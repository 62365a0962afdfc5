"""Plan-shape assertions: pushdown, column pruning, codegen — the
"is this the plan you'd want at 100 TB" checks."""

from __future__ import annotations

from collections import Counter

import pytest
from pyspark.sql import functions as F

from arc_spark.plans import pushed_filters, scan_info, wholestage_codegen_spans
from arc_spark.plans.explain import read_schema_columns

SF = "/root/testdata/sf0.01"


def test_filter_pushdown_reaches_parquet_scan(spark):
    df = (
        spark.read.parquet(f"{SF}/lineitem.parquet")
        .filter(F.col("l_shipdate") <= "1998-09-02")
        .filter(F.col("l_quantity") > 10)
        .select("l_returnflag", "l_quantity")
    )
    filters = " ".join(pushed_filters(df))
    assert "l_shipdate" in filters and "l_quantity" in filters


def test_column_pruning_two_column_projection(spark):
    df = spark.read.parquet(f"{SF}/lineitem.parquet").select("l_orderkey", "l_quantity")
    cols = read_schema_columns(df)
    assert set(cols) == {"l_orderkey", "l_quantity"}, cols


def test_cdc_epoch_read_pushes_seq_range(spark, tmp_path):
    from arc_spark.cdc.generator import write_change_stream

    p = write_change_stream(spark, str(tmp_path / "ev"), 2000, num_partitions=4)
    epoch = (
        spark.read.parquet(p)
        .filter((F.col("seq") >= 500) & (F.col("seq") <= 999))
    )
    filters = " ".join(pushed_filters(epoch))
    assert "GreaterThanOrEqual(seq,500)" in filters
    assert "LessThanOrEqual(seq,999)" in filters


def test_thin_dedup_scan_prunes_payload(spark, tmp_path):
    """The late-materialization winner scan must NOT read content."""
    from arc_spark.cdc.generator import write_change_stream

    p = write_change_stream(spark, str(tmp_path / "ev2"), 2000, num_partitions=4)
    ev = spark.read.parquet(p)
    thin = ev.select("repo", "path", "seq").groupBy("repo", "path").agg(
        F.max("seq").alias("seq")
    )
    cols = read_schema_columns(thin)
    assert "content" not in cols and set(cols) == {"repo", "path", "seq"}


def test_q1_stays_in_codegen(spark):
    import __spark_entry__ as E

    df = E.queries()["q1_pricing_summary"](spark, SF)
    df.collect()  # AQE: codegen spans only visible in the final plan
    assert wholestage_codegen_spans(df) >= 1
    info = scan_info(df)
    assert info and info[0]["format"] == "parquet"
    # money aggregation is partially aggregated map-side (partial_sum)
    from arc_spark.plans.explain import explain_formatted

    assert "partial_sum" in explain_formatted(df)


def test_broadcast_join_for_small_dim(spark):
    from arc_spark.plans.explain import explain_formatted

    nation = spark.read.parquet(f"{SF}/nation.parquet")
    customer = spark.read.parquet(f"{SF}/customer.parquet")
    joined = customer.join(nation, customer.c_nationkey == nation.n_nationkey)
    assert "Broadcast" in explain_formatted(joined)


def test_window_lww_plan_has_partial_group_limit(spark):
    """The window LWW strategy must plan a PARTIAL WindowGroupLimit
    (local top-1 per key before the shuffle) — the property that makes it
    shuffle ~one row per key per task without a fat hash-agg state. If a
    Spark upgrade loses this, the strategy choice needs re-measuring."""
    from arc_spark.cdc.apply import last_writer_wins
    from arc_spark.cdc.generator import change_stream

    df = change_stream(spark, 5000, num_partitions=4)
    w = last_writer_wins(df, ["repo", "path"], "seq", strategy="window")
    plan = w._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan
    assert "Partial" in plan.split("WindowGroupLimit", 2)[-1][:200] or "Partial" in plan


def test_minhash_signature_is_one_arrow_pass(spark):
    """The minhash signature must run as ONE ArrowEvalPython pass over the
    hashed-shingle array — if this regresses to per-lane expression
    evaluation (num_hashes interpreted array_min passes) the measured
    ~10x kernel win disappears."""
    from arc_spark.operators.dedup import minhash_near_dup

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    cand = minhash_near_dup(docs, "text", "doc_id", num_hashes=16, bands=4)
    plan = cand._jdf.queryExecution().executedPlan().toString()
    # the numpy kernel, not 16 interpreted array_min(transform) lanes
    assert "ArrowEvalPython" in plan and "array_min" not in plan
    # the signature table is persisted: every plan reference reads the
    # same InMemoryRelation, so the kernel itself runs exactly once
    assert "InMemoryTableScan" in plan or "InMemoryRelation" in plan


def test_simhash_pairing_joins_with_inline_hamming(spark):
    """SimHash candidate pairing must be a shuffle JOIN (streamed,
    codegen) with the Hamming verify inside the join condition — not an
    O(bucket^2) struct-array expansion, and never a cartesian product."""
    from arc_spark.operators.dedup import simhash_near_dup

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    pairs = simhash_near_dup(docs, "text", "doc_id", max_hamming=7, bands=8)
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    join_seg = plan[plan.find("Join"):][:600]
    assert "bit_count" in join_seg, join_seg
    assert "collect_set" not in plan  # the expansion path would aggregate arrays


def test_mor_clean_read_has_no_window(spark, tmp_path):
    """Reading a MOR table whose selected buckets carry no deltas must not
    plan a Window at all (delta-free buckets stream through)."""
    from arc_spark.lake.table import LakeTable

    t = LakeTable(str(tmp_path / "plan_mor"))
    df0 = spark.createDataFrame(
        [(i, f"v{i}", i, "upsert") for i in range(50)],
        "k: long, v: string, seq: long, op: string",
    )
    t.create(df0.drop("op").schema, ["k"], num_buckets=4)
    t.merge(spark, df0, epoch=0, start_seq=0, end_seq=49)
    clean = t.read(spark)
    assert "Window" not in clean._jdf.queryExecution().executedPlan().toString()
    # after a delta epoch, the window appears but only over a union branch
    d = spark.createDataFrame([(0, "NEW", 99, "upsert")],
                              "k: long, v: string, seq: long, op: string")
    t.merge(spark, d, epoch=1, start_seq=99, end_seq=99, mode="delta")
    dirty_plan = t.read(spark)._jdf.queryExecution().executedPlan().toString()
    assert "Window" in dirty_plan and "Union" in dirty_plan


def test_replay_epoch_plan_shape(spark, tmp_path):
    """The full epoch pipeline (guard -> LWW -> fingerprint) keeps the
    100TB-shape invariants for BOTH dedup strategies: seq range pushed to
    the scan, the window strategy's partial WindowGroupLimit collapses
    rows map-side, the thin default plans no Window at all, and exactly
    ONE Python stage (the mapInArrow fingerprint kernel) touches the
    data — the bad-event guard and dedup stay in codegen."""
    from arc_spark.cdc.apply import last_writer_wins, normalize_and_fingerprint
    from arc_spark.cdc.generator import write_change_stream

    stream = write_change_stream(
        spark, str(tmp_path / "plan_ev"), 2000, seed=1, num_partitions=4
    )
    ev = (
        spark.read.option("mergeSchema", "true")
        .parquet(stream)
        .filter((F.col("seq") >= 0) & (F.col("seq") <= 999))
        .filter(F.col("op") != "schema-change")
    )
    deduped = normalize_and_fingerprint(
        last_writer_wins(ev, ["repo", "path"], "seq", strategy="window")
    )
    plan = deduped._jdf.queryExecution().executedPlan().toString()
    filters = " ".join(pushed_filters(deduped))
    assert "seq" in filters  # epoch range reaches the parquet scan
    assert plan.count("WindowGroupLimit") >= 2  # partial (map-side) + final
    # exactly one Python-eval stage in the whole epoch plan
    assert plan.count("MapInArrow") == 1
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan

    # the thin default: max(seq) agg + winner join-back, NO window —
    # fat content rows never enter a sort, and the plan still carries a
    # single Python stage with the seq filter pushed down
    thin = normalize_and_fingerprint(last_writer_wins(ev, ["repo", "path"], "seq"))
    tplan = thin._jdf.queryExecution().executedPlan().toString()
    assert "seq" in " ".join(pushed_filters(thin))
    assert "WindowGroupLimit" not in tplan
    assert tplan.count("MapInArrow") == 1
    assert "ArrowEvalPython" not in tplan and "BatchEvalPython" not in tplan


def test_iceberg_mor_read_plan_linear_in_chain_length(spark, tmp_path):
    """read_iceberg over a MOR-exported table applies the whole delete
    chain with ONE aggregated join per delete kind — a per-delete-file
    filter/anti-join/union would double the plan at every level (2^L
    scan branches), which is fatal at production chain lengths. Pin the
    physical scan count to linear: seq groups + delete files."""
    from arc_spark.lake.iceberg_export import export_iceberg
    from arc_spark.lake.iceberg_read import read_iceberg
    from arc_spark.lake.table import LakeTable

    t = LakeTable(str(tmp_path / "ice_chain"))
    ddl = "k: long, v: string, seq: long, op: string"
    df0 = spark.createDataFrame(
        [(i, f"v{i}", i, "upsert") for i in range(40)], ddl
    )
    t.create(df0.drop("op").schema, ["k"], num_buckets=2)
    t.merge(spark, df0, epoch=0, start_seq=0, end_seq=39)
    levels = 5
    for e in range(1, levels + 1):
        # seq-ordered chain (the binlog-replay shape): epoch e's seqs all
        # exceed epoch e-1's, so the zero-copy level encoding is valid
        d = spark.createDataFrame(
            [(e % 7, f"u{e}", 100 * e, "upsert"),
             ((e + 1) % 7, None, 100 * e + 1, "delete")], ddl
        )
        t.merge(spark, d, epoch=e, start_seq=100 * e, end_seq=100 * e + 1,
                mode="delta", max_delta_chain=64)
    res = export_iceberg(spark, t)
    assert res["delta_levels"] == levels and res["zero_copy_chain"]
    got = read_iceberg(spark, t.root)
    want = t.read(spark).select(*got.columns)
    assert got.exceptAll(want).isEmpty() and want.exceptAll(got).isEmpty()
    plan = got._jdf.queryExecution().executedPlan().toString()
    n_scans = plan.count("Scan parquet") + plan.count("FileScan parquet")
    # linear budget: (levels+1) data seq groups + (levels+1) delete files
    # with slack; the exponential shape would blow past 2^levels = 32
    # base-scan copies alone
    assert n_scans <= 2 * (levels + 1) + 4, f"{n_scans} scans:\n{plan[:2000]}"


# ---------------------------------------------------------------------------
# round-6 optimization pins: the internals these rely on were restructured
# for performance; these tests pin the behavior the speedups must preserve.
# ---------------------------------------------------------------------------


def test_word_hash_shingles_match_string_shingles_semantics(spark):
    """Word-mode shingle hashing no longer builds shingle strings (one
    xxhash64 per word + one combining xxhash64 per shingle). The hash
    VALUES differ from the string form by design, but the set STRUCTURE
    must match: same number of distinct shingles per doc as the string
    form, and equal docs must still produce equal shingle sets."""
    from arc_spark.operators.dedup import _shingles, shingle_hashes

    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),  # dup of 1
        (3, "one two"),            # shorter than n=3 -> single short shingle
        (4, ""),                   # empty
        (5, "  spaced   out\ttokens \n here  "),
        (6, "a a a a a"),          # repeated token collapses to 1 shingle
    ]
    df = spark.createDataFrame(rows, ["id", "text"])
    got = {
        r["id"]: (r["n"], tuple(sorted(r["sh"])))
        for r in df.select(
            "id",
            F.size(shingle_hashes(F.col("text"), 3)).alias("n"),
            shingle_hashes(F.col("text"), 3).alias("sh"),
        ).collect()
    }
    str_n = {
        r["id"]: r["n"]
        for r in df.select(
            "id", F.size(_shingles(F.col("text"), 3)).alias("n")
        ).collect()
    }
    for i in (1, 2, 3, 4, 5, 6):
        assert got[i][0] == str_n[i], (i, got[i][0], str_n[i])
    assert got[1][1] == got[2][1]          # identical docs -> identical sets
    assert got[1][0] == 7                  # 9 tokens, distinct 3-grams
    assert got[3][0] == 1 and got[4][0] == 1
    assert got[6][0] == 1


def test_dedup_exact_id_only_joinback_keeps_min_id(spark):
    """dedup_exact's keep set joins back on representative id alone; the
    min-id-per-normalized-text contract must hold exactly."""
    from arc_spark.operators.dedup import dedup_exact

    rows = [
        (10, "Hello  World"),
        (3, "hello world"),      # same normalized text -> representative
        (7, "HELLO\tWORLD "),    # same normalized text
        (5, "different"),
        (6, None),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    kept = sorted(r["doc_id"] for r in dedup_exact(df, "text", "doc_id").collect())
    assert kept == [3, 5, 6], kept


def test_lazy_band_keys_match_eager_kernel(spark):
    """embedding_near_dup derives hyperplanes inside the kernel from the
    first batch's dim; keys must equal the eager driver-side kernel."""
    import random as _random

    from arc_spark.operators.similarity import (
        _band_keys_kernel,
        _band_keys_kernel_lazy,
        _hyperplanes,
    )

    dim, planes, bands = 16, 32, 16
    rnd = _random.Random(7)
    rows = [(i, [rnd.uniform(-1, 1) for _ in range(dim)]) for i in range(200)]
    df = spark.createDataFrame(rows, ["id", "v"]).repartition(4)
    eager = _band_keys_kernel(_hyperplanes(dim, planes, 42), bands, planes // bands)
    lazy = _band_keys_kernel_lazy(planes, bands, planes // bands, 42)
    a = {r["id"]: list(r["k"]) for r in df.select("id", eager(F.col("v")).alias("k")).collect()}
    b = {r["id"]: list(r["k"]) for r in df.select("id", lazy(F.col("v")).alias("k")).collect()}
    assert a == b


def test_thin_lww_winner_checkpoint_preserves_output(spark):
    """The auto-broadcast winner set is eagerly checkpointed (single
    materialization); output must stay identical to the window strategy."""
    from arc_spark.cdc.apply import last_writer_wins
    from arc_spark.cdc.generator import change_stream

    df = change_stream(spark, 3000, num_partitions=4)
    thin = last_writer_wins(df, ["repo", "path"], "seq", strategy="thin")
    window = last_writer_wins(df, ["repo", "path"], "seq", strategy="window")
    cols = sorted(thin.columns)
    assert thin.select(cols).exceptAll(window.select(cols)).count() == 0
    assert window.select(cols).exceptAll(thin.select(cols)).count() == 0


def test_statistics_exact_distinct_split_jobs_match_and_skip_flags(spark):
    """Exact-mode statistics now computes distinct counts as per-column
    single-distinct jobs (no Expand) and lets callers skip
    stddev/percentiles; values must match the one-agg form and skipped
    stats must surface as NULL with the schema unchanged."""
    from arc_spark.operators.statistics import statistics

    df = spark.read.parquet(f"{SF}/orders.parquet").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    full = {r["col_name"]: r.asDict() for r in statistics(df, approximate=False).collect()}
    slim = {
        r["col_name"]: r.asDict()
        for r in statistics(
            df, approximate=False, percentiles=False, stddev=False
        ).collect()
    }
    expect = {
        c: df.select(c).distinct().count() for c in df.columns
    }
    for c in df.columns:
        assert full[c]["distinct_count"] == expect[c] == slim[c]["distinct_count"]
        assert full[c]["count"] == slim[c]["count"]
        assert full[c]["mean"] == slim[c]["mean"]
    assert slim["o_totalprice"]["p50"] is None and slim["o_totalprice"]["stddev"] is None
    assert full["o_totalprice"]["p50"] is not None
    assert sorted(full["o_orderkey"].keys()) == sorted(slim["o_orderkey"].keys())


def test_fused_redelivery_lww_matches_split_form(spark):
    """lww_thin_collapse_redelivered must equal collapse_redelivered +
    thin LWW as a bag (a duplicated output row counts), and report the
    same extras count, on a clean stream, one with verbatim
    re-deliveries, and each redelivery shape the fused winners split
    into clean and dirty keys: a copy of only a losing row, a copy of
    the winning row, three copies, copies in NULL-key groups and NULL-seq
    copies (only DedupTransform input can carry a NULL seq). window and
    sort_partitions through dedup_by_key must agree too."""
    from arc_spark.cdc.apply import (
        collapse_redelivered,
        dedup_by_key,
        last_writer_wins,
        lww_thin_collapse_redelivered,
    )
    from arc_spark.cdc.generator import change_stream

    keys = ["repo", "path"]
    schema = "repo string, path string, seq long, content string, op string"
    base = [
        ("r", "a", 1, "a1", "insert"), ("r", "a", 2, "a2", "update"),
        ("r", "b", 3, "b3", "insert"), ("r", "b", 4, "b4", "update"),
        ("r", "c", 5, "c5", "insert"),
        (None, "n", 6, "n6", "insert"), (None, "n", 7, "n7", "update"),
        (None, None, 8, "nn8", "insert"),
        ("r", "z", None, "z0", "insert"), ("r", "z", 9, "z9", "update"),
        ("r", "y", None, "y0", "insert"),
    ]
    shapes = {
        "losing row copied": [("r", "a", 1, "a1", "insert")],
        "winning row copied": [("r", "b", 4, "b4", "update")],
        "three copies": [("r", "c", 5, "c5", "insert")] * 2,
        "null-key copies": [
            (None, "n", 7, "n7", "update"), (None, "n", 6, "n6", "insert"),
            (None, None, 8, "nn8", "insert"), (None, None, 8, "nn8", "insert"),
        ],
        "null-seq copies": [
            ("r", "z", None, "z0", "insert"),
            ("r", "y", None, "y0", "insert"), ("r", "y", None, "y0", "insert"),
        ],
    }
    clean = change_stream(spark, 2000, num_partitions=4).filter(
        F.col("op") != "schema-change"
    )
    cases = [
        ("clean stream", clean, 0),
        ("50 re-deliveries", clean.unionByName(clean.limit(50)), 50),
        ("small clean", spark.createDataFrame(base, schema).repartition(3), 0),
    ] + [
        (name, spark.createDataFrame(base + extra, schema).repartition(3), len(extra))
        for name, extra in shapes.items()
    ]

    def bag(out):  # rows with multiplicity, column order fixed
        return Counter(tuple(r) for r in out.select(sorted(out.columns)).collect())

    for name, df, want_extras in cases:
        fused, extras = lww_thin_collapse_redelivered(df, keys, "seq")
        collapsed, extras2 = collapse_redelivered(df, keys, "seq")
        split = last_writer_wins(collapsed, keys, "seq", strategy="thin")
        assert extras == extras2 == want_extras, name
        got = bag(fused)
        assert got == bag(split), name
        ki = [sorted(df.columns).index(k) for k in keys]
        assert sum(got.values()) == len({tuple(r[i] for i in ki) for r in got}), name
        for s in ("window", "sort_partitions"):
            other, other_extras = dedup_by_key(df, keys, "seq", strategy=s)
            assert other_extras == want_extras, (name, s)
            assert bag(other) == got, (name, s)


def test_fused_redelivery_broadcasts_each_side_by_its_own_size(
    spark, monkeypatch, tmp_path
):
    """Past the broadcast cap the clean keys sort-merge join, but the few
    keys with copies still broadcast, so a flood of clean keys does not
    send the dirty side's fat rows through a shuffle join. Output stays
    equal to collapse + thin LWW on every side of the cap. Spark's own
    size-based broadcast is off, so only the explicit hint can broadcast."""
    from arc_spark.cdc import apply
    from arc_spark.cdc.generator import change_stream

    keys = ["repo", "path"]
    clean = change_stream(spark, 400, num_partitions=4).filter(
        F.col("op") != "schema-change"
    )
    clean.unionByName(clean.limit(3)).write.parquet(str(tmp_path / "dup"))
    dup = spark.read.parquet(str(tmp_path / "dup"))
    n_keys = clean.select(*keys).distinct().count()

    def joins(out):
        plan = out._jdf.queryExecution().executedPlan().toString()
        return plan.count("BroadcastHashJoin"), plan.count("SortMergeJoin")

    collapsed, _ = apply.collapse_redelivered(dup, keys, "seq")
    split = apply.last_writer_wins(collapsed, keys, "seq", strategy="thin")
    want = Counter(tuple(r) for r in split.select(sorted(split.columns)).collect())
    threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        for cap, shape in ((n_keys, (2, 0)), (3, (1, 1)), (0, (0, 2))):
            monkeypatch.setattr(apply, "DEFAULT_MAX_BROADCAST_WINNERS", cap)
            fused, extras = apply.lww_thin_collapse_redelivered(dup, keys, "seq")
            assert extras == 3
            assert joins(fused) == shape, cap
            got = Counter(
                tuple(r) for r in fused.select(sorted(fused.columns)).collect()
            )
            assert got == want, cap
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)


def test_simhash_accepts_string_ids(spark):
    """The mapInPandas signature schema must derive the id type from the
    input — string doc ids are legal and worked on the pandas_udf path."""
    from arc_spark.operators.dedup import simhash_near_dup

    rows = [(f"doc-{i}", "the quick brown fox jumps over the lazy dog " * 3)
            for i in range(6)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    pairs = simhash_near_dup(df, "text", "doc_id", max_hamming=3, bands=4)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert len(got) == 15  # identical docs: all C(6,2) pairs at hamming 0
    assert all(isinstance(a, str) and isinstance(b, str) for a, b in got)


def test_empty_df_preserves_schema_exactly(spark):
    """empty_df must keep nullability and field metadata byte-exact (a
    typed-empty extract introspects like a non-empty read) while its
    consumers schedule zero tasks."""
    from pyspark.sql import types as T

    from arc_spark.schema import empty_df

    schema = T.StructType([
        T.StructField("a", T.LongType(), False, {"internal": True}),
        T.StructField("b", T.StringType(), True, {"desc": "x"}),
    ])
    df = empty_df(spark, schema)
    assert df.schema == schema
    assert df.rdd.getNumPartitions() == 0
    assert df.count() == 0
