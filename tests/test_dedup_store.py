"""Incremental dedup store (operators/dedup_store.py, round 9): a new
batch dedups against the WHOLE ingested history via compact fingerprint /
band tables — never a rescan of historical text."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from neighborly_spark.operators.dedup_store import DedupStore

SF = "/root/testdata/sf0.001"


@pytest.fixture()
def store(spark, tmp_path):
    return DedupStore.create(spark, str(tmp_path / "dstore"), k=3, num_perm=16, bands=4)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_incremental_dedup(spark, store):
    day0 = _docs(spark, [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "pack my box with five dozen liquor jugs"),
        (3, "how vexingly quick daft zebras jump"),
    ])
    store.add(day0, ingest_id="day0")
    batch = _docs(spark, [
        (100, "the quick brown fox jumps over the lazy dog"),  # dup of 1
        (101, "sphinx of black quartz judge my vow"),          # new
        (102, "pack my box with five dozen liquor jugs"),      # dup of 2
    ])
    matches = {(r.doc_id, r.dup_of) for r in store.exact_matches(batch).collect()}
    assert matches == {(100, 1), (102, 2)}
    survivors = {r.doc_id for r in store.filter_new(batch).collect()}
    assert survivors == {101}
    # multi-day growth: day1 adds the new doc; a later batch sees it
    store.add(_docs(spark, [(101, "sphinx of black quartz judge my vow")]), "day1")
    later = _docs(spark, [(200, "sphinx of black quartz judge my vow")])
    assert {(r.doc_id, r.dup_of) for r in store.exact_matches(later).collect()} == {(200, 101)}


def test_add_is_replay_safe(spark, store):
    day0 = _docs(spark, [(1, "alpha beta gamma delta"), (2, "epsilon zeta eta theta")])
    store.add(day0, ingest_id="b7")
    n_exact = spark.read.parquet(f"{store.path}/exact").count()
    n_bands = spark.read.parquet(f"{store.path}/minhash").count()
    store.add(day0, ingest_id="b7")  # replay: REPLACES its partition
    assert spark.read.parquet(f"{store.path}/exact").count() == n_exact
    assert spark.read.parquet(f"{store.path}/minhash").count() == n_bands
    assert n_bands == 2 * 4  # bands rows per doc


def test_neardup_matches_store(spark, store):
    base = "the training corpus contains many documents about spark and data processing pipelines at scale"
    store.add(_docs(spark, [(1, base), (2, "an entirely different text about cooking recipes and kitchen tools")]), "day0")
    batch = _docs(spark, [
        # near-dup: one word changed
        (100, base.replace("many", "several")),
        # unrelated
        (101, "quantum chromodynamics lattice simulations on supercomputers"),
        # exact copy (jaccard estimate 1.0)
        (102, base),
    ])
    got = {r.doc_id: (r.store_doc_id, r.est_jaccard) for r in store.neardup_matches(batch, threshold=0.5).collect()}
    assert 102 in got and got[102][0] == 1 and got[102][1] == 1.0
    assert 100 in got and got[100][0] == 1 and 0.5 <= got[100][1] <= 1.0
    assert 101 not in got
    # empty-store path returns an empty, correctly-typed frame
    fresh = DedupStore.create(spark, store.path + "_fresh")
    assert fresh.neardup_matches(batch).count() == 0
    assert fresh.exact_matches(batch).count() == 0
    assert fresh.filter_new(batch).count() == 3


def test_manifest_pins_params(spark, tmp_path):
    p = str(tmp_path / "pinned")
    DedupStore.create(spark, p, k=4, num_perm=32, bands=8)
    reopened = DedupStore.open(spark, p)
    assert (reopened.k, reopened.num_perm, reopened.bands) == (4, 32, 8)
    with pytest.raises(ValueError, match="already exists"):
        DedupStore.create(spark, p)
    with pytest.raises(ValueError, match="bands must divide"):
        DedupStore.create(spark, str(tmp_path / "bad"), num_perm=16, bands=5)


def test_store_against_real_documents(spark, tmp_path):
    """End-to-end on the driver's documents table: ingest half the corpus,
    then check the full corpus — every ingested doc's text must exact-match
    the store; docs with UNSEEN text must survive filter_new."""
    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    first = docs.filter("doc_id % 2 = 0")
    store = DedupStore.create(spark, str(tmp_path / "real"))
    store.add(first, ingest_id="half")
    matched_ids = {r.doc_id for r in store.exact_matches(docs).collect()}
    # every even doc matches (its own text is stored); odd docs match only
    # if their text collides with an even doc's text
    evens = {r.doc_id for r in first.select("doc_id").collect()}
    assert evens <= matched_ids
    stored_texts = {r.text for r in first.select("text").collect()}
    surviving = store.filter_new(docs)
    assert surviving.filter(F.col("text").isin(list(stored_texts))).count() == 0
    got_new = {r.doc_id for r in surviving.select("doc_id").collect()}
    want_new = {
        r.doc_id for r in docs.collect() if r.text not in stored_texts
    }
    assert got_new == want_new


def test_store_estimates_track_exact_jaccard(spark, tmp_path):
    """Cross-validation vs the self-dedup operator: on real documents,
    every (batch, store) pair the store reports must be a pair
    minhash_lsh_pairs finds on the union corpus (same bands, same
    signatures), and the store's signature ESTIMATE stays within the
    estimator tolerance of the exact shingle Jaccard (num_perm=16 ->
    stddev <= 0.125; assert within 3 sigma + rounding)."""
    from neighborly_spark.operators.dedup import minhash_lsh_pairs

    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    stored = docs.filter("doc_id % 2 = 0")
    batch = docs.filter("doc_id % 2 = 1")
    store = DedupStore.create(spark, str(tmp_path / "xval"))
    store.add(stored, ingest_id="half")
    got = {
        (r.doc_id, r.store_doc_id): r.est_jaccard
        for r in store.neardup_matches(batch, threshold=0.4).collect()
    }
    # exact pairs on the union, restricted to cross (odd, even) pairs
    exact = {}
    for r in minhash_lsh_pairs(docs, threshold=0.0).collect():
        a, b = int(r.id_a), int(r.id_b)
        if a % 2 != b % 2:
            odd, even = (a, b) if a % 2 == 1 else (b, a)
            exact[(odd, even)] = r.jaccard
    assert got, "expected at least one cross near-dup pair in the corpus"
    for pair, est in got.items():
        assert pair in exact, pair  # store candidates are operator candidates
        assert abs(est - exact[pair]) <= 3 * 0.125 + 1e-6, (pair, est, exact[pair])


def test_store_composes_with_streaming_ingest(spark, tmp_path):
    """THE production shape: continuous dedup'd ingestion — each
    micro-batch is filtered against the store (filter_new), survivors are
    appended to the corpus AND registered in the store (add with the
    batch id -> replay-safe). Across two availableNow runs with a restart
    in between, the curated corpus holds each distinct text exactly once,
    first-seen wins."""
    land = str(tmp_path / "landing")
    out = str(tmp_path / "curated")
    ckpt = str(tmp_path / "ckpt")
    store = DedupStore.create(spark, str(tmp_path / "store"))

    day0 = _docs(spark, [
        (1, "alpha beta gamma"), (2, "delta epsilon zeta"), (3, "eta theta iota"),
    ])
    day0.write.mode("overwrite").parquet(land)

    def run_stream():
        stream = spark.readStream.schema("doc_id long, text string").parquet(land)

        def sink(batch, bid):
            fresh = store.filter_new(batch)
            (
                fresh.withColumn("_batch_id", F.lit(bid))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("_batch_id")
                .parquet(out)
            )
            store.add(fresh, ingest_id=f"b{bid}")

        return (
            stream.writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    q = run_stream()
    q.awaitTermination(120)
    # day1: one dup of day0, one new doc — lands after a stream restart
    _docs(spark, [
        (100, "alpha beta gamma"),        # exact dup of doc 1
        (101, "kappa lambda mu"),         # new
    ]).write.mode("append").parquet(land)
    q2 = run_stream()
    q2.awaitTermination(120)

    curated = spark.read.parquet(out).select("doc_id", "text").collect()
    texts = sorted(r.text for r in curated)
    assert texts == sorted([
        "alpha beta gamma", "delta epsilon zeta", "eta theta iota", "kappa lambda mu",
    ])  # each distinct text exactly once
    ids = {r.text: r.doc_id for r in curated}
    assert ids["alpha beta gamma"] == 1  # first-seen wins, the replay lost


def test_add_owns_first_seen_invariant_across_ingests(spark, store):
    """add() dedups against HISTORY: re-adding an already-stored text in a
    later ingest contributes no second exact row and no band rows, so
    exact_matches keeps returning exactly one dup_of per text (the
    round-9 review finding: the invariant is the store's, not the
    caller's)."""
    t = "shared text seen on day zero"
    store.add(_docs(spark, [(1, t), (2, "only on day zero")]), "day0")
    store.add(_docs(spark, [(5, t), (6, "only on day one")]), "day1")
    got = store.exact_matches(_docs(spark, [(9, t)])).collect()
    assert [(r.doc_id, r.dup_of) for r in got] == [(9, 1)]  # ONE row, first-seen
    # the duplicate contributed no band rows either
    mh = spark.read.parquet(f"{store.path}/minhash")
    assert mh.filter(F.col("doc_id") == 5).count() == 0
    assert mh.filter(F.col("doc_id") == 6).count() == store.bands


def test_filter_new_preserves_caller_columns(spark, store):
    """A caller-owned '_fp' column survives filter_new (the join key is
    collision-proofed)."""
    store.add(_docs(spark, [(1, "stored text")]), "day0")
    batch = spark.createDataFrame(
        [(2, "fresh text", "mine")], "doc_id long, text string, _fp string"
    )
    out = store.filter_new(batch).collect()
    assert len(out) == 1 and out[0]._fp == "mine"


def test_add_replay_after_partial_failure(spark, store):
    """Round-9 ADVICE (medium): a foreachBatch retry after a crash BETWEEN
    the exact/ write and the minhash/ write must recompute and rewrite
    BOTH partitions — the history anti-join excludes the current
    ingest_id's own rows, so the replay cannot see its half-committed
    exact rows and conclude there is nothing to do."""
    import shutil

    day0 = _docs(spark, [(1, "alpha beta gamma delta"), (2, "epsilon zeta eta theta")])
    store.add(day0, ingest_id="b7")
    n_exact = spark.read.parquet(f"{store.path}/exact").count()
    n_bands = spark.read.parquet(f"{store.path}/minhash").count()
    assert n_bands == 2 * store.bands
    # simulate the partial failure: exact/ committed, minhash/ lost
    shutil.rmtree(f"{store.path}/minhash/_ingest_id=b7")
    store.add(day0, ingest_id="b7")  # the foreachBatch replay
    assert spark.read.parquet(f"{store.path}/exact").count() == n_exact
    assert spark.read.parquet(f"{store.path}/minhash").count() == n_bands
    # and the near-dup gate sees the recovered signatures again
    assert store.neardup_matches(day0, threshold=0.9).count() == 2


def test_exact_matches_lawful_over_duplicate_first_seen_rows(spark, store):
    """Concurrent-add hazard (round-9 VERDICT "What's wrong 2"): if racing
    writers left TWO first-seen rows for one fingerprint, exact_matches
    must still return exactly one dup_of per batch doc — the store side
    re-aggregates min(doc_id) per fingerprint at read time."""
    t = "racy text ingested twice"
    store.add(_docs(spark, [(7, t)]), "writer_a")
    # simulate writer_b racing past the anti-join: write its first-seen
    # row directly into its own partition (what a lost race produces)
    (
        store._exact_rows(_docs(spark, [(9, t)]), "doc_id", "text")
        .withColumn("_ingest_id", F.lit("writer_b"))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("_ingest_id")
        .parquet(f"{store.path}/exact")
    )
    assert spark.read.parquet(f"{store.path}/exact").count() == 2  # the race happened
    got = store.exact_matches(_docs(spark, [(100, t)])).collect()
    assert [(r.doc_id, r.dup_of) for r in got] == [(100, 7)]  # ONE row, min wins


def test_compact_preserves_results_and_removes_store_side_exchange(spark, tmp_path):
    """compact() contract (round-10 VERDICT 2): gates return identical
    results before and after compaction; afterwards the store side of the
    banded candidate join reads the BUCKETED base with no Exchange (only
    the batch side and the pair-dedup shuffle remain); add() keeps working
    on top of the base (delta legs rejoin the view); and a fresh catalog
    re-registers the bucketed table from the manifest."""
    docs = (
        spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    )
    store = DedupStore.create(spark, str(tmp_path / "cstore"))
    store.add(docs.filter("doc_id % 4 = 0"), ingest_id="day0")
    store.add(docs.filter("doc_id % 4 = 2"), ingest_id="day1")

    def snapshot():
        exact = {(r.doc_id, r.dup_of) for r in store.exact_matches(docs).collect()}
        new = {r.doc_id for r in store.filter_new(docs).collect()}
        near = {
            (r.doc_id, r.store_doc_id, r.est_jaccard)
            for r in store.neardup_matches(docs, threshold=0.5).collect()
        }
        return exact, new, near

    before = snapshot()
    store.compact(n_buckets=8)
    assert snapshot() == before
    # ingest-partition proliferation folded away: base is bucketed files,
    # delta dirs are gone
    import os

    assert not os.path.exists(f"{store.path}/exact")
    assert not os.path.exists(f"{store.path}/minhash")

    # plan law: the bucketed store leg of the candidate join has no
    # Exchange — only the batch side shuffles (+ the pair-dedup)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        cand = store._neardup_candidates(store._band_rows(docs, "doc_id", "text"))
        cand.count()
        plan = cand._jdf.queryExecution().executedPlan().toString()
        assert "Bucketed: true" in plan, plan
        assert plan.count("Exchange") <= 2, plan  # batch shuffle + pair dedup
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)

    # adds keep composing after compaction (base + fresh delta legs)
    store.add(_docs(spark, [(990001, "a brand new post compaction text")]), "day2")
    assert store.exact_matches(
        _docs(spark, [(990002, "a brand new post compaction text")])
    ).collect()[0].dup_of == 990001
    assert before[0] <= snapshot()[0]  # history still matches

    # second compaction folds base + delta and bumps the version
    v1 = store.compact_info["version"]
    store.compact(n_buckets=8)
    assert store.compact_info["version"] == v1 + 1
    assert store.exact_matches(
        _docs(spark, [(990003, "a brand new post compaction text")])
    ).collect()[0].dup_of == 990001

    # fresh-session catalog recovery: drop the catalog entries (external
    # tables -> data stays) and re-open; _base re-registers from manifest
    for sub in ("exact", "minhash"):
        spark.sql(f"DROP TABLE IF EXISTS {store._table_name(sub, store.compact_info['version'])}")
    reopened = DedupStore.open(spark, store.path)
    assert reopened.exact_matches(
        _docs(spark, [(990004, "a brand new post compaction text")])
    ).collect()[0].dup_of == 990001


def test_compact_empty_store_raises(spark, store):
    with pytest.raises(ValueError, match="nothing to compact"):
        store.compact()


def test_mixed_numeric_and_string_ingest_ids(spark, store):
    """Round-10 review: parquet partition discovery TYPE-INFERS _ingest_id,
    so all-numeric ingest ids (foreachBatch batch ids) read back as ints —
    a later non-numeric ingest_id must neither crash the first-seen
    anti-join (ANSI cast error) nor silently drop the history leg, and
    compact() must union the mixed-typed legs cleanly."""
    store.add(_docs(spark, [(1, "seen on batch zero")]), "0")
    store.add(_docs(spark, [(2, "seen on batch one")]), "1")
    # non-numeric ingest over a store whose partition column inferred int
    store.add(
        _docs(spark, [(3, "seen on batch zero"), (4, "backfill-only text")]),
        "backfill-a",
    )
    got = store.exact_matches(_docs(spark, [(9, "seen on batch zero")])).collect()
    assert [(r.doc_id, r.dup_of) for r in got] == [(9, 1)]  # history NOT dropped
    # doc 3 was a duplicate: no second exact row even across the type seam
    ex = spark.read.parquet(f"{store.path}/exact")
    assert ex.filter(F.col("doc_id") == 3).count() == 0
    assert ex.filter(F.col("doc_id") == 4).count() == 1
    store.compact()  # mixed-typed legs union under the string cast
    got2 = store.exact_matches(_docs(spark, [(9, "seen on batch zero")])).collect()
    assert [(r.doc_id, r.dup_of) for r in got2] == [(9, 1)]


def test_compact_sweeps_orphaned_versions_and_dedups_overlap(spark, store):
    """Round-10 review pair: (a) compact() full-row-dedups the base+delta
    union, so crash-window overlap rows are folded instead of baked into
    every later base; (b) the cleanup sweeps ALL older versions, so a
    version orphaned by a crash between manifest flip and delete is
    removed by the next compact()."""
    import os

    store.add(
        _docs(spark, [(1, "doc one alpha beta"), (2, "doc two gamma delta")]),
        "day0",
    )
    store.compact()
    v1_dir = f"{store.path}/exact_base_v1"
    assert os.path.exists(v1_dir)
    store.add(_docs(spark, [(3, "doc three epsilon zeta")]), "day1")
    # simulate the crash window: copy v1's rows back as a fake overlapping
    # delta partition (same rows now exist in base AND delta)
    spark.read.parquet(v1_dir).withColumn(
        "_ingest_id", F.lit("day0")
    ).select("fingerprint", "doc_id", "_ingest_id").write.mode(
        "append"
    ).partitionBy("_ingest_id").parquet(f"{store.path}/exact")
    store.compact()
    # (a) overlap folded: one row per fingerprint in the new base
    base2 = spark.table(store.compact_info["tables"]["exact"]["table"])
    assert base2.groupBy("fingerprint").count().filter("count > 1").count() == 0
    # (b) v1 swept even though v2's compact is the one that removed it
    assert not os.path.exists(v1_dir)
    got = store.exact_matches(_docs(spark, [(9, "doc one alpha beta")])).collect()
    assert [(r.doc_id, r.dup_of) for r in got] == [(9, 1)]


def test_short_doc_only_store_stays_queryable(spark, store):
    """Round-10 fix: a store whose every added doc is shorter than k
    tokens writes ZERO band rows — dynamic partition overwrite leaves
    minhash/ present but file-less. compact() and both gates must treat
    that as an empty leg, not die in parquet schema inference."""
    store.add(_docs(spark, [(1, "doc one"), (2, "doc two")]), "day0")
    got = store.exact_matches(_docs(spark, [(9, "doc one")])).collect()
    assert [(r.doc_id, r.dup_of) for r in got] == [(9, 1)]
    assert store.neardup_matches(_docs(spark, [(9, "doc one")])).count() == 0
    store.compact()
    got2 = store.exact_matches(_docs(spark, [(9, "doc one")])).collect()
    assert [(r.doc_id, r.dup_of) for r in got2] == [(9, 1)]


def test_single_base_exact_matches_elides_read_time_aggregation(spark, store):
    """Round-11 optimization (r10 VERDICT next-round item 4): when the
    ONLY exact leg is the compacted bucketed base, its fingerprints are
    unique by construction, so exact_matches skips the post-join
    min(dup_of) aggregation — no aggregation Exchange over the matched
    pairs — while any un-compacted delta leg keeps it. Results must be
    identical either way."""
    docs = [(1, "alpha text one"), (2, "beta text two"), (3, "gamma text three")]
    store.add(_docs(spark, docs), "day0")
    batch = _docs(spark, [(11, "alpha text one"), (12, "beta text two"), (13, "unseen")])

    # pre-compact (delta leg): the aggregation is present in the plan
    pre = store.exact_matches(batch)
    assert "min(dup_of" in pre._jdf.queryExecution().optimizedPlan().toString()
    pre_rows = {(r.doc_id, r.dup_of) for r in pre.collect()}
    assert pre_rows == {(11, 1), (12, 2)}

    store.compact(n_buckets=4)
    post = store.exact_matches(batch)
    plan = post._jdf.queryExecution().optimizedPlan().toString()
    assert "min(dup_of" not in plan, plan  # elided in the single-base state
    assert {(r.doc_id, r.dup_of) for r in post.collect()} == pre_rows

    # a fresh delta re-introduces a second leg -> the aggregation returns
    store.add(_docs(spark, [(4, "delta text four")]), "day1")
    mixed = store.exact_matches(batch)
    assert "min(dup_of" in mixed._jdf.queryExecution().optimizedPlan().toString()
    assert {(r.doc_id, r.dup_of) for r in mixed.collect()} == pre_rows


def _sql_plan_nodes_since(spark, after_id: int) -> list[list[str]]:
    """Node names of each SQL execution with id > ``after_id``, read from
    the session's SQL status store (final AQE plans; works with the UI
    off). The listener bus is drained first so every execution is in."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList()
    out = []
    for i in range(execs.size()):
        eid = execs.apply(i).executionId()
        if eid <= after_id:
            continue
        it = store.planGraph(eid).allNodes().iterator()
        names = []
        while it.hasNext():
            names.append(it.next().name())
        out.append(names)
    return out


def _last_sql_execution_id(spark) -> int:
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    return max((execs.apply(i).executionId() for i in range(execs.size())), default=-1)


def test_compact_writes_each_table_with_one_exchange(spark, store):
    """Plan law: the executed plan of every compacted sub-table write —
    a first compact over delta legs, and a second over base + delta —
    holds exactly ONE Exchange (the hash partitioning on the bucket keys;
    the full-row dedup reuses it)."""
    store.add(_docs(spark, [(1, "alpha beta gamma delta"), (2, "epsilon zeta eta theta")]), "day0")
    for day, rows in (("day1", [(3, "iota kappa lambda mu")]), ("day2", [(4, "nu xi omicron pi")])):
        mark = _last_sql_execution_id(spark)
        store.compact()
        writes = [
            nodes for nodes in _sql_plan_nodes_since(spark, mark)
            if "Execute InsertIntoHadoopFsRelationCommand" in nodes
        ]
        assert len(writes) == len(store.compact_info["tables"]) == 2, writes
        for nodes in writes:
            assert nodes.count("Exchange") == 1, nodes
        store.add(_docs(spark, rows), day)


def _catalog_buckets(spark, table: str) -> int:
    rows = spark.sql(f"DESCRIBE TABLE EXTENDED {table}").collect()
    return int(next(r.data_type for r in rows if r.col_name == "Num Buckets"))


def test_compact_bucket_count_sizing_rule(spark, store):
    """The bucket count per sub-table is max(defaultParallelism,
    ceil(leg_bytes / spark.sql.files.maxPartitionBytes)) over that
    sub-table's on-disk base + delta bytes, recorded per table in the
    manifest and in the catalog; an explicit n_buckets wins."""
    from neighborly_spark.fsio import fs_bytes

    floor = spark.sparkContext.defaultParallelism
    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    store.add(docs.filter("doc_id % 2 = 0"), "day0")

    # floor: a small store under the default 128 MB split gets one bucket
    # per task slot
    store.compact()
    tables = store.compact_info["tables"]
    for sub in ("exact", "minhash"):
        assert tables[sub]["n_buckets"] == floor
        assert _catalog_buckets(spark, tables[sub]["table"]) == floor

    # above the floor: ceil(bytes / split) over base + delta
    store.add(docs.filter("doc_id % 2 = 1"), "day1")
    leg_bytes = {
        sub: fs_bytes(spark, f"{store.path}/{sub}") + fs_bytes(spark, tables[sub]["location"])
        for sub in ("exact", "minhash")
    }
    split = min(leg_bytes.values()) // (floor + 3)
    prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(split))
    try:
        want = {sub: -(-b // split) for sub, b in leg_bytes.items()}
        assert all(w > floor for w in want.values()), (want, floor)
        assert {sub: store._bucket_count(sub) for sub in want} == want
        store.compact()
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", prev)
    tables = store.compact_info["tables"]
    for sub, w in want.items():
        assert tables[sub]["n_buckets"] == w
        assert _catalog_buckets(spark, tables[sub]["table"]) == w

    # an explicit count overrides the rule
    store.compact(n_buckets=3)
    tables = store.compact_info["tables"]
    for sub in ("exact", "minhash"):
        assert tables[sub]["n_buckets"] == 3
        assert _catalog_buckets(spark, tables[sub]["table"]) == 3


def test_old_format_manifest_reopens(spark, store):
    """A store compacted before bucket counts were recorded per table holds
    ONE store-wide ``n_buckets`` in its manifest: it reopens in a fresh
    catalog, both gates return what they returned before, and the next
    compact() records its counts per table."""
    from neighborly_spark.fsio import write_json

    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    store.add(docs.filter("doc_id % 3 = 0"), "day0")
    store.compact(n_buckets=5)

    def gates(s):
        exact = {(r.doc_id, r.dup_of) for r in s.exact_matches(docs).collect()}
        near = {
            (r.doc_id, r.store_doc_id, r.est_jaccard)
            for r in s.neardup_matches(docs, threshold=0.5).collect()
        }
        return exact, near

    before = gates(store)
    assert before[0] and before[1]
    old = dict(store.manifest)
    info = old["compact"]
    old["compact"] = {
        "version": info["version"],
        "n_buckets": 5,
        "tables": {
            sub: {k: v for k, v in t.items() if k != "n_buckets"}
            for sub, t in info["tables"].items()
        },
    }
    write_json(spark, f"{store.path}/manifest.json", old)
    for t in info["tables"].values():
        spark.sql(f"DROP TABLE IF EXISTS {t['table']}")  # external: data stays

    reopened = DedupStore.open(spark, store.path)
    assert gates(reopened) == before
    for t in info["tables"].values():
        assert _catalog_buckets(spark, t["table"]) == 5

    # the next compact writes the per-table form
    reopened.add(_docs(spark, [(990001, "a brand new post reopen text")]), "day1")
    reopened.compact(n_buckets=4)
    assert "n_buckets" not in reopened.compact_info
    for t in reopened.compact_info["tables"].values():
        assert t["n_buckets"] == 4
        assert _catalog_buckets(spark, t["table"]) == 4
