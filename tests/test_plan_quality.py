"""Physical-plan assertions: the suite queries must produce the plans we
designed for 100 TB, not just correct answers — filters pushed to the scan,
columns pruned, dims broadcast, whole-stage codegen engaged."""

from __future__ import annotations

import contextlib
import io

from pttcrawler_spark import suite

SF = "/root/testdata/sf0.001"


def _plan(spark, name: str) -> str:
    df = suite.queries()[name](spark, SF)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_filter_pushdown_to_scan(spark):
    plan = _plan(spark, "p4_date_cutoff")
    assert "PushedFilters" in plan
    assert "l_shipdate" in plan.split("PushedFilters")[1].splitlines()[0]


def test_column_pruning(spark):
    plan = _plan(spark, "p2_conj_filter")
    read = plan.split("ReadSchema")[1].splitlines()[0]
    # only the needed lineitem columns are read, not all 16
    assert "l_orderkey" in read and "l_comment" not in read
    assert read.count(":") <= 6


def test_dims_broadcast(spark):
    for name in ("j6_dim_nav", "j3_four_way", "flagship_tw_report"):
        plan = _plan(spark, name)
        assert "BroadcastHashJoin" in plan, name
    # fact-side join strategy is not a cartesian product anywhere
    assert "CartesianProduct" not in _plan(spark, "j3_four_way")


def test_whole_stage_codegen(spark):
    # AQE shows codegen stages ('*(n)') only in the FINAL plan → execute first
    df = suite.queries()["a3_push_tally"](spark, SF)
    df.collect()
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("simple")
    assert "*(" in buf.getvalue()


def test_anti_and_semi_joins_planned(spark):
    assert "LeftAnti" in _plan(spark, "j2_left_anti")
    assert "LeftSemi" in _plan(spark, "p6_in_list_semi")


def test_partial_aggregation(spark):
    # map-side combine: HashAggregate appears twice (partial + final)
    plan = _plan(spark, "f11_lower_board")
    assert plan.count("HashAggregate") >= 2


def test_minhash_lsh_no_cartesian(spark):
    # the LSH self-join is an equi-join on (band, sig) — never a cross join
    plan = _plan(spark, "dedup_minhash_lsh")
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or \
        "BroadcastHashJoin" in plan


def test_embedding_lsh_scaled_no_cartesian(spark):
    """dedup_embedding_lsh_scaled: the candidate self-join is an equi-join
    on (band, sig) with corpus-scaled band width — never a cross product;
    the only crossJoin in the query is vectors × the ≤96-row broadcast
    hyperplane dim (BroadcastNestedLoopJoin over a bounded dim is the
    intended shape there, so only CartesianProduct is banned). The
    signature table is checkpointed (Scan ExistingRDD) so the self-join
    reads ONE materialization instead of computing the projection +
    signature aggregation once per branch."""
    plan = _plan(spark, "dedup_embedding_lsh_scaled")
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or \
        "BroadcastHashJoin" in plan
    assert "Scan ExistingRDD" in plan.split("\n\n")[0]


def test_phash_banding_no_cartesian(spark):
    # img_phash_near_dup: candidates come from an equi-join on (band, value),
    # never an all-pairs product — the whole point of the banding scale path
    plan = _plan(spark, "img_phash_near_dup")
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or \
        "BroadcastHashJoin" in plan


def test_ivf_topk_probes_broadcast(spark):
    # ann_ivf_topk: the 2-row probe set reaches the fact scan as a broadcast
    # join (cell pruning), and the only CartesianProduct-free query path
    plan = _plan(spark, "ann_ivf_topk")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_substr_dedup_hash_before_shuffle(spark):
    # text_substr_dedup: both shuffles key on the 64-bit gram hash; the
    # wide text column must never reach an Exchange (only doc_id + h move)
    plan = _plan(spark, "text_substr_dedup")
    assert "CartesianProduct" not in plan
    for i, ln in enumerate(plan.splitlines()):
        if ln.strip().startswith("Arguments: hashpartitioning"):
            assert "text#" not in ln


def test_crop_dup_equi_join(spark):
    # img_crop_dup: candidate pairs come from an equi-join on tile_hash —
    # the tile-grid analog of LSH banding, never an all-pairs product
    plan = _plan(spark, "img_crop_dup")
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or \
        "BroadcastHashJoin" in plan


def test_rollup_single_expand_shuffle(spark):
    # a9_rollup: grouping sets plan = one Expand feeding a partial
    # aggregate — NOT three scans unioned
    plan = _plan(spark, "a9_rollup")
    assert "Expand" in plan
    assert "Union" not in plan                # one Expand, not 3 scans unioned
    assert plan.count("InMemoryFileIndex") == 1   # single scan of lineitem
    assert plan.count("HashAggregate") >= 2   # partial + final


def test_cluster_cc_no_cartesian(spark):
    # connected components: every propagation round is an equi-join on
    # doc_id — an all-pairs product would defeat the LSH pruning upstream
    plan = _plan(spark, "dedup_cluster_cc")
    assert "CartesianProduct" not in plan


def _single_partition_exchanges(plan: str) -> list[str]:
    """Lines with a SinglePartition Exchange, excluding with_global_seq's
    offsets prefix-sum (bounded at num_partitions rows — identified by the
    _pid/_cnt aggregate feeding it within the next few lines)."""
    lines = plan.splitlines()
    bad = []
    for i, ln in enumerate(lines):
        if "Exchange SinglePartition" not in ln:
            continue
        ctx = "\n".join(lines[i:i + 4])
        if "_pid" in ctx or "_cnt" in ctx:
            continue
        bad.append(ln.strip())
    return bad


def test_global_seq_plan_scale_safe(spark):
    """operators/seq.with_global_seq: the numbering plan must contain a
    parallel range partitioning and NO single-partition Exchange on the data
    path (VERDICT r1 finding 1 — global Window.orderBy is a scale-killer)."""
    import contextlib
    import io

    from pyspark.sql import functions as F

    from pttcrawler_spark.operators.seq import with_global_seq

    df = spark.range(0, 50000).select(
        (F.col("id") * 2654435761 % 1000003).alias("k"),
        F.col("id").alias("payload"))
    out = with_global_seq(df, ["k"], "seq", barrier=False)
    out.collect()  # final AQE plan
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    assert "rangepartitioning" in plan
    assert _single_partition_exchanges(plan) == []


def test_store_ids_no_global_window(spark, crawled):
    """build_relational's id assignment: no single-partition Exchange on the
    data path (fetch_seq / article_id / user id / history id / push id all
    go through with_global_seq)."""
    import contextlib
    import io

    from pttcrawler_spark.engine import store as S

    tables = S.build_relational(crawled)
    for name in ("article", "user", "article_history", "push"):
        df = tables[name]
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        assert _single_partition_exchanges(plan) == [], (
            f"{name}: {_single_partition_exchanges(plan)}")


def test_asof_join_single_window_no_join(spark):
    """j8: the as-of rewrite must be union + ONE window — a per-row range
    probe would appear as a (nested-loop) join."""
    plan = _plan(spark, "j8_asof_join")
    assert plan.count("Window") >= 1
    assert "NestedLoop" not in plan
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan
    assert "PushedFilters" in plan  # event_type filters reach both scans


def test_range_lookup_is_broadcast_equi(spark):
    """j9: range join must compile to BroadcastHashJoin on the prefix,
    never BroadcastNestedLoopJoin on the BETWEEN."""
    plan = _plan(spark, "j9_ip_range_lookup")
    assert "BroadcastHashJoin" in plan
    assert "NestedLoop" not in plan


def test_pure_map_ops_no_shuffle(spark):
    """gopher rules and stratified sampling are pure maps/filters —
    any Exchange means a planning regression."""
    for name in ("text_gopher_rules", "sample_stratified"):
        plan = _plan(spark, name)
        assert "Exchange" not in plan, name


def test_url_canonical_single_agg_exchange(spark):
    """f13: the canonicalization chain stays in one codegen stage; the only
    shuffle is the canonical-key aggregation."""
    plan = _plan(spark, "f13_url_canonical")
    # tree section only — the details section repeats each node name
    tree = plan.split("\n\n")[0]
    assert tree.count("Exchange") == 1
    assert "HashAggregate" in tree  # partial agg before the shuffle


def test_verify_psnr_shuffles_only_ids(spark):
    """img_verify_psnr: the per-row invariant is chained MapInPandas. The
    ONLY Exchange allowed is the deliberate round-robin spread of the id
    strings BEFORE the payload exists (image_ops._spread — mapInPandas
    parallelism = input partitions, and the id source is a 1-2-split scan);
    payload bytes must never reach a shuffle."""
    plan = _plan(spark, "img_verify_psnr")
    assert plan.count("MapInPandas") >= 2
    tree = plan.split("\n\n")[0]
    assert tree.count("Exchange") == 1, tree
    assert "RoundRobinPartitioning" in plan
    # the spread happens on bare id strings — no payload column in any
    # exchange's output attributes
    for i, ln in enumerate(plan.splitlines()):
        if ln.startswith("(") and "Exchange" in ln:
            section = "\n".join(plan.splitlines()[i:i + 3])
            assert "bytes" not in section, section


def test_percentile_approx_single_exchange(spark):
    """a8b: sketch + exact-window check live in ONE aggregate — a second
    Exchange would mean the tolerance check added a self-join/shuffle."""
    plan = _plan(spark, "a8b_percentile_approx")
    tree = plan.split("\n\n")[0]
    assert tree.count("Exchange") == 1
    assert "approx_percentile" in plan


def test_urlseen_twin_single_exchange_no_python(spark):
    """stream_urlseen_twin: first-event-per-canonical-url must be ONE
    hash-partition Exchange on the canon key feeding the window rank; the
    RE2 canonicalizer chain and variant synthesis stay JVM-side (no
    Python/Arrow eval node in the plan)."""
    plan = _plan(spark, "stream_urlseen_twin")
    tree = plan.split("\n\n")[0]
    assert tree.count("Exchange") == 1
    assert "CartesianProduct" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_latency_twin_equi_join_not_bnlj(spark):
    """stream_latency_twin: the interval join must plan as an EQUI-join on
    url with the time range as a residual condition — a
    BroadcastNestedLoopJoin/CartesianProduct here would be O(n^2) at scale
    (the whole point of keying the interval join on url)."""
    plan = _plan(spark, "stream_latency_twin")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or \
        "BroadcastHashJoin" in plan


def test_dedup_pipeline_e2e_no_cartesian(spark):
    """dedup_pipeline_e2e composes minhash-LSH banding, the CC cluster
    loop's final plan, keeper selection, and the survivor left-join — at no
    point may the composition degrade to an all-pairs product (e.g. a
    band-hash collision blowing up into a cross join)."""
    plan = _plan(spark, "dedup_pipeline_e2e")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_politeness_admit_no_payload_blowup(spark):
    """Both graded admission paths: the state/rank joins must stay
    broadcast (the per-host state table is tiny by construction) and the
    frontier must never cross-join."""
    for name in ("p9_politeness_admit", "p9b_politeness_window"):
        plan = _plan(spark, name)
        assert "BroadcastHashJoin" in plan, name
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_semantic_dedup_pairs_confined_to_cluster(spark):
    """SemDeDup's within-cluster pair join must be an equi-join on the
    cluster id (SortMerge or Hash), never an all-pairs product — that
    confinement IS the algorithm's scale claim."""
    plan = _plan(spark, "dedup_semantic")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_semantic_scaled_pairs_confined_and_centroids_checkpointed(spark):
    """dedup_semantic_scaled: the within-cluster pair join must be an
    equi-join on the DYNAMIC cluster id (never an all-pairs product), the
    output must read the CHECKPOINTED assignment (Scan ExistingRDD — the
    n×k GEMM argmin ran once, not once per output branch), and no
    Exchange may carry the quantized q arrays or a centroid table — the
    centroids travel as a parquet side-table each Arrow task reads, so
    they appear in no plan edge at all."""
    plan = _plan(spark, "dedup_semantic_scaled")
    tree = plan.split("\n\n")[0]
    assert "CartesianProduct" not in plan
    assert "Scan ExistingRDD" in tree  # checkpointed GEMM assignment
    for line in tree.splitlines():
        if "Exchange" in line:
            assert "q#" not in line and "cent#" not in line, line


def test_pagerank_rank_side_broadcast(spark):
    """graph_pagerank: every iteration joins the O(nodes) rank table into
    the O(edges) edge list — the rank side must broadcast so the edge
    table is never re-shuffled across iterations. The returned result is
    the per-iteration-checkpointed O(nodes) rank DataFrame (the
    engine/crawl.py loop-state discipline — a lazily chained loop
    re-derived the edge table 14× in one action)."""
    from pyspark.sql import functions as F

    from pttcrawler_spark import suite as s

    edges = s._pr_edges(spark, SF)
    outdeg = edges.groupBy("src").agg(F.count("*").alias("deg"))
    rdf = spark.createDataFrame([(0, 100), (1, 100)], "src long, pr long")
    df = s._pr_inflow(edges, outdeg, rdf)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    tree = plan.split("\n\n")[0]
    assert tree.count("BroadcastHashJoin") == 2
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # returned query: checkpoint-backed, no lingering parquet lineage
    out = _plan(spark, "graph_pagerank")
    assert "Scan parquet" not in out.split("\n\n")[0]


def test_pagerank_no_driver_rank_roundtrip(spark, monkeypatch):
    """Round-4 verdict #2: the per-iteration rank vector must NOT
    round-trip the driver. Rank is a checkpointed DataFrame; the only
    permitted driver-side results while building the query are 1-row
    scalars (count). Intercept every Python-side row transfer
    (DataFrame.collect / toPandas / toLocalIterator / take) and every
    spark.createDataFrame during construction and require zero."""
    from pyspark.sql import DataFrame, SparkSession

    from pttcrawler_spark import suite as s

    calls = []
    for name in ("collect", "toPandas", "toLocalIterator", "take"):
        orig = getattr(DataFrame, name)

        def spy(self, *a, _n=name, _o=orig, **kw):
            calls.append(_n)
            return _o(self, *a, **kw)

        monkeypatch.setattr(DataFrame, name, spy)
    orig_create = SparkSession.createDataFrame

    def spy_create(self, *a, **kw):
        calls.append("createDataFrame")
        return orig_create(self, *a, **kw)

    monkeypatch.setattr(SparkSession, "createDataFrame", spy_create)
    df = s.graph_pagerank(spark, SF)
    assert calls == [], calls
    assert df.count() > 0


def test_bpe_merges_single_vocab_exchange(spark):
    """bpe_train_merges: the vocab word-frequency aggregate is computed
    once and localCheckpoint()ed, so the returned segmentation plan is a
    pure whole-stage-codegen replace() chain over the checkpointed vocab
    blocks — NO parquet re-scan, no Exchange, no join. (Before round 5
    the output plan re-derived the vocab aggregate, costing an extra
    corpus scan per output job.)"""
    plan = _plan(spark, "bpe_train_merges")
    tree = plan.split("\n\n")[0]
    assert "Scan parquet" not in tree
    assert "Exchange" not in tree
    assert "Join" not in tree
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_bpe_apply_segmentation_broadcast(spark):
    """bpe_apply_tokenize: the learned segmentation is vocab-sized, so
    tokenizing the corpus must be ONE BroadcastHashJoin of the word
    stream against it plus the final doc_id partial agg — never a
    sort-merge join of the corpus against the vocab."""
    plan = _plan(spark, "bpe_apply_tokenize")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_decontaminate_two_scans(spark):
    """text_decontaminate: the doc spine rides the gram stream
    (explode_outer), so the corpus is read once for the fact side and
    once for the tiny bench derivation — a third scan means the spine
    left-join regressed."""
    plan = _plan(spark, "text_decontaminate")
    tree = plan.split("\n\n")[0]
    assert tree.count("Scan parquet") == 2
    assert "BroadcastHashJoin LeftOuter" in tree


def test_quality_pipeline_narrow_joins(spark):
    """quality_pipeline_e2e: the three per-doc stage branches equi-join on
    doc_id and the tertile thresholds arrive as a broadcast 1-row dim —
    never a cartesian; the text column must not appear in the join keys
    (only ids and verdicts join)."""
    plan = _plan(spark, "quality_pipeline_e2e")
    assert "CartesianProduct" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_mix_allocation_single_scan(spark):
    """mix_allocation: one lang partial-agg shuffle, budget as a window
    over the O(#langs)-row result — ONE corpus scan, no join, no Python."""
    plan = _plan(spark, "mix_allocation")
    tree = plan.split("\n\n")[0]
    assert tree.count("Scan parquet") == 1
    assert "Join" not in tree
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_dsir_models_broadcast(spark):
    """text_dsir_weights: the fused O(B)-bucket model (raw + target +
    totals in one aggregation) must broadcast into the corpus-sized
    feature stream, and the whole query reads the corpus exactly twice
    (model build + fact probe) — a third scan means the totals or the
    target model regressed to their own corpus branches."""
    plan = _plan(spark, "text_dsir_weights")
    tree = plan.split("\n\n")[0]
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert tree.count("Scan parquet") == 2


def test_corpus_fetch_prunes_scan_to_admitted_pages(spark, corpus_pdf,
                                                     tmp_path):
    """The simulated fetch (engine/crawl._fetch_corpus) over a corpus laid
    out like bench.prepare_corpus's, partitioned by (kind, page_index):
    a batch that admits one index page's articles plus the next index page
    reads the index partitions and that page's article partition only."""
    import re

    from pyspark.sql import functions as F

    from pttcrawler_spark.engine import crawl as C

    path = str(tmp_path / "corpus")
    (spark.createDataFrame(corpus_pdf).write
     .partitionBy("kind", "page_index").parquet(path))
    page = 2
    adm = corpus_pdf[
        ((corpus_pdf.kind == "article") & (corpus_pdf.page_index == page))
        | ((corpus_pdf.kind == "index") & (corpus_pdf.page_index == page - 1))
    ][["url", "kind", "page_index"]]
    fetched = C._fetch_corpus(spark.read.parquet(path),
                              spark.createDataFrame(adm))
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        fetched.explain("formatted")
    scans = [re.sub(r"#\d+", "", line).split("PartitionFilters: [")[1]
             for line in buf.getvalue().splitlines() if "PartitionFilters" in line]
    assert scans
    keep = f"((kind = index) OR ((kind = article) AND (page_index = {page})))"
    for filters in scans:
        assert set(filters.rstrip("]").split(", ")) - {
            "isnotnull(kind)", "isnotnull(page_index)"} == {keep}, filters
    # every admitted URL was served from the pruned scan
    assert fetched.where(F.col("_html").isNotNull()).count() == len(adm) > 2
