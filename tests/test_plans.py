"""Physical-plan audits: the properties that make these operators
scale are visible in the executed plan, so assert them — a regression
that silently trades a broadcast for a cartesian product or loses
filter pushdown should fail CI, not a 100 TB run.

Checks use df._jdf.queryExecution().executedPlan().toString() via
explain-string capture at sf0.001 (plan shape, not timing)."""

import io
from contextlib import redirect_stdout

from pyspark.sql import functions as F

from datacatalog_tag_engine_spark.pipeline import dedup as DD
from datacatalog_tag_engine_spark.pipeline import similarity as SIM


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_parquet_scan_prunes_and_pushes_down(spark, sf_dir):
    # a filtered two-column projection must reach the scan as
    # PushedFilters + a pruned ReadSchema (not the full 11-col lineitem)
    li = spark.table("lineitem")
    df = li.filter(F.col("l_linestatus") == "O").select("l_orderkey", "l_quantity")
    p = plan_of(df)
    assert "PushedFilters: [IsNotNull(l_linestatus), EqualTo(l_linestatus,O)" in p
    assert "l_comment" not in p  # column pruning reached the scan
    assert "ReadSchema" in p


def test_glossary_join_broadcasts(spark):
    from datacatalog_tag_engine_spark.model.schemas import ASSETS_SCHEMA
    from datacatalog_tag_engine_spark.operators.glossary import glossary_tag_rows

    assets = spark.createDataFrame(
        [{
            "asset_uri": "p/datasets/d/tables/t", "asset_type": "bigquery",
            "project": "p", "dataset": "d", "table": "t",
            "schema": [{"name": "email_addr", "type": "STRING", "mode": None, "subcolumns": None}],
        }],
        ASSETS_SCHEMA,
    )
    mapping = spark.createDataFrame(
        [("email_addr", "Email Address")], "source_name string, canonical_name string"
    )
    p = plan_of(glossary_tag_rows(assets, mapping, "glossary"))
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_minhash_pipeline_has_no_cartesian(spark):
    docs = spark.table("documents")
    p = plan_of(DD.minhash_dedup(docs))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_ann_query_side_broadcasts(spark):
    emb = spark.table("embeddings")
    p = plan_of(SIM.ivf_topk(emb, emb.filter(F.col("vec_id") < 3), k=3))
    assert "BroadcastHashJoin" in p  # probe table joins cells via broadcast
    assert "CartesianProduct" not in p


def test_pq_scoring_joins_codes_not_vectors(spark):
    emb = spark.table("embeddings")
    p = plan_of(SIM.pq_topk(emb, emb.filter(F.col("vec_id") < 3), k=3))
    # the distance-table join must be a broadcast on (m, code) — the
    # corpus-sized side carries only codes, never raw vectors
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_exact_dedup_single_shuffle(spark):
    import re

    docs = spark.table("documents")
    p = plan_of(DD.exact_dedup(docs))
    # one exchange for the fingerprint window — no join, no extra
    # shuffle (the formatted plan names each node once as "(n) Exchange")
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 1


def test_static_config_is_a_plan_not_a_collect(spark):
    # the static path (engine._static_rows) must emit matched x fields as
    # a crossJoin with a broadcast dimension table — the reference's 1M-
    # asset static load (examples/load/configs/static_asset_1m.json)
    # must never materialize assets x fields dicts on the driver
    from datacatalog_tag_engine_spark.engine import TagEngine

    eng = TagEngine(spark)
    eng.create_template("t", [{"field_id": f"f{i}", "field_type": "string"} for i in range(7)])
    cfg_uuid = eng.create_config(
        "STATIC_TAG_ASSET", "t",
        included_uris="bigquery/project/p/dataset/d/*",
        fields=[{"field_id": f"f{i}", "field_value": f"v{i}"} for i in range(7)],
    )
    assets = spark.range(100).selectExpr(
        "format_string('p/datasets/d/tables/t_%03d', id) as asset_uri",
        "'bigquery' as asset_type", "'p' as project", "'d' as dataset",
        "format_string('t_%03d', id) as table",
    )
    df = eng._static_rows(eng.configs[cfg_uuid], assets)
    p = plan_of(df)
    # distributed range scan survives into the plan (not a LocalTableScan
    # of collected rows) and the fields side is broadcast
    assert "Range" in p
    assert "BroadcastNestedLoopJoin" in p
    assert df.count() == 700


def test_semantic_dedup_assigns_once(spark):
    """The quantizer assignment is computed once: it lives behind a
    persist() (InMemoryRelation), so the executed plan carries exactly
    TWO distinct Window nodes — the cached centroid-assignment rank
    (printed once per InMemoryTableScan but computed once) and the
    per-vector dominator pick — not 4x-recomputed assignment windows.
    The formatted explain repeats the cached relation's body verbatim
    per consumer with the SAME node ids, so distinct ids are the
    compute count."""
    import re

    # earlier tests' still-registered persist() entries get substituted
    # into equal plan fragments here (correct — equal plan means equal
    # data — but it nests their InMemoryRelation bodies into the
    # formatted text); clear the cache so the audit sees THIS call's
    # plan shape
    spark.catalog.clearCache()
    out = DD.semantic_dedup(spark.table("embeddings"))
    p = plan_of(out)
    window_ids = set(re.findall(r"\((\d+)\) Window$", p, re.M))
    assert len(window_ids) == 2, p
    assert "InMemoryRelation" in p, p
    assert "CartesianProduct" not in p


def test_dsir_single_corpus_shuffle(spark):
    """DSIR weights (pipeline/dsir.py): ONE corpus-side shuffle total —
    the pre-explode repartition on doc_id (spreads the CPU-heavy gram
    hashing across the cluster), whose partitioning the final doc-keyed
    aggregation then REUSES: zero exchanges after the broadcast model
    join. The bucket count tables sit behind persist() so the model
    computes once across the totals action and the table plan."""
    import re

    from datacatalog_tag_engine_spark.pipeline import dsir as DSIR

    spark.catalog.clearCache()
    docs = spark.table("documents")
    w = DSIR.dsir_weights(
        docs.filter(F.col("doc_id") % 17 != 0), docs.filter(F.col("doc_id") % 17 == 0)
    )
    p = plan_of(w)
    assert "BroadcastHashJoin" in p and "CartesianProduct" not in p
    assert "InMemoryRelation" in p  # bucket model computed once
    nodes = [(int(i), n) for i, n in re.findall(r"^\s*\((\d+)\) (\w+)", p, re.M)]
    bhj = max(i for i, n in nodes if n == "BroadcastHashJoin")
    # ZERO exchanges downstream of the broadcast join: the doc-keyed
    # groupBy reuses the pre-explode repartition's hash partitioning
    assert [i for i, n in nodes if n == "Exchange" and i > bhj] == [], p
    # the feats subtree (corpus scan, printed first) carries exactly ONE
    # Exchange — the pre-explode repartition, the single corpus shuffle
    first_cached = min(i for i, n in nodes if n == "InMemoryTableScan")
    assert len([i for i, n in nodes if n == "Exchange" and i < first_cached]) == 1, p


def test_bloom_delta_broadcasts_bitmap_and_scans_prior_once(spark):
    """Bloom-prefiltered delta (pipeline/dedup.py
    incremental_delta_bloom): the bitmap probe joins on the broadcast
    word index `w` (the bitmap is constant-size no matter how large the
    prior grows), and the prior fingerprint set sits behind ONE
    persist() read by both the bitmap build and the verification
    anti-join — the prior corpus is scanned once per run."""
    import re

    spark.catalog.clearCache()
    docs = spark.table("documents")
    batch = docs.filter(F.col("doc_id") % 3 == 0)
    prior = docs.filter(F.col("doc_id") % 3 != 0)
    out = DD.incremental_delta_bloom(batch, prior)
    p = plan_of(out)
    assert "CartesianProduct" not in p
    # bitmap probe: a LeftOuter broadcast join keyed on the word index
    m = re.search(r"\((\d+)\) BroadcastHashJoin\nLeft keys \[1\]: \[w#\d+", p)
    assert m, p
    assert "InMemoryRelation" in p  # prior fingerprints + probe flags cached
    # the probe flags are persisted: the two union branches read ONE
    # cached aggregation, so the probe plan computes once
    assert out.count() == DD.incremental_delta(batch, prior).count()


def test_remove_repeated_spans_persists_gram_table(spark):
    """Span removal (pipeline/dedup.py remove_repeated_spans): the
    doc-grain starts table is eagerly materialized inside the call (the
    persisted gram table feeds the df-count aggregate and the
    membership join during that action, then releases — no pinned cache
    blocks per call), so the FINAL plan is just rebuild-over-join: the
    checkpointed starts broadcast against the repartitioned docs. The
    repartition matters — the rebuild is the operator's most expensive
    row-local expression, and without it a one-file corpus rebuilds on
    one core (measured 2.3x at sf0.1)."""
    import re

    spark.catalog.clearCache()
    docs = spark.table("documents")
    p = plan_of(DD.remove_repeated_spans(docs))
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    assert "ExistingRDD" in p  # starts materialized inside the call
    assert "InMemoryRelation" not in p  # gram table NOT pinned in the final plan
    n_exchange = len(re.findall(r"\(\d+\) Exchange", p))
    assert n_exchange <= 1, p  # only the pre-rebuild repartition


def test_paragraph_dedup_uses_partial_aggregate_not_window(spark):
    """paragraph_dedup's keep-first must be a min_by AGGREGATE (map-side
    partial combine collapses hot duplicate paragraphs per task) — a
    row_number window would pile every copy of a viral paragraph onto
    one reducer."""
    docs = spark.table("documents")
    p = plan_of(DD.paragraph_dedup(docs))
    assert "Window" not in p, p
    assert "min_by" in p or "minby" in p.lower()


def test_clean_pipeline_composition_plan(spark):
    """q59v2: the composed cleaning pipeline exactly as the certified
    query chains it (stage 0 normalize + collapse_repeated_lines ->
    Gopher gate -> paragraph dedup -> span removal -> emptied-doc
    drop), built WITHOUT the stage barriers so the assertions see the
    full logical composition. Stage 0 and the gate are pure scan
    projections (ZERO exchanges); the composed chain stays JVM-side
    (no Python eval nodes), never degrades to a cartesian /
    nested-loop join, and its total shuffle count stays bounded — one
    pre-explode repartition plus the per-stage hash shuffles, so a
    regression that doubles shuffles (e.g. losing a persisted shared
    subtree) fails here before it costs a 100 TB run."""
    import re

    from datacatalog_tag_engine_spark.pipeline import text as TXT

    spark.catalog.clearCache()
    raw = spark.table("documents")
    cleaned = TXT.collapse_repeated_lines(
        TXT.normalize_text(raw, passthrough=True)
    ).select("doc_id", "text")
    # stage 0 is a zero-shuffle scan projection like the gate
    assert len(re.findall(r"\(\d+\) Exchange", plan_of(cleaned))) == 0
    docs = cleaned  # the query adds repartition + localCheckpoint here
    g = TXT.gopher_filter(
        docs, min_words=20, min_stopword_hits=0,
        max_dup_word_frac=1.0, max_top_bigram_frac=1.0,
    )
    assert len(re.findall(r"\(\d+\) Exchange", plan_of(g))) == 0

    kept = docs.join(g.filter("keep").select("doc_id"), "doc_id", "left_semi")
    para = DD.paragraph_dedup(kept).select("doc_id", "text")
    spans = DD.remove_repeated_spans(para, n=8, min_docs=2).select("doc_id", "text")
    clean = spans.filter(F.length(F.trim(F.col("text"))) > 0)
    p = plan_of(clean)
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    assert "EvalPython" not in p  # no row-at-a-time or arrow Python
    n_exchange = len(re.findall(r"\(\d+\) Exchange", p))
    assert n_exchange <= 10, p


def test_image_phash_payload_never_crosses_an_exchange(spark):
    """m02: payload bytes must be consumed inside the scan stage — the
    fingerprint (8 bytes) is what shuffles. In the physical plan the
    MapInPandas node sits BELOW the first Exchange, and no node above
    the first Exchange outputs the payload column. At 100 TB payloads
    dominate partition size; shuffling them would be the scale bug."""
    from datacatalog_tag_engine_spark.pipeline import multimodal as MM

    fps = MM.image_phash(MM.make_fake_image_corpus(spark, n_groups=6, group_size=3))
    pairs = DD.hamming_neardup_pairs(
        fps, id_col="media_id", fp_col="phash", bits=64, bands=4, max_hamming=10
    )
    import re

    p = plan_of(pairs)
    blocks = re.split(r"\n\n", p)
    # formatted explain lists each node's Input/Output schema: payload
    # must be consumed by the MapInPandas (its input) and emitted by
    # nothing (its output is the narrow fingerprint row) ...
    map_blocks = [b for b in blocks if re.match(r"\(\d+\) MapInPandas", b.strip())]
    assert map_blocks
    for b in map_blocks:
        assert "payload" in b, b
        assert re.search(r"Arguments: .*\[media_id#\d+L, phash#\d+L\]", b), b
    # ... so no Exchange ever carries it — the property that makes
    # payload-level dedup viable when payloads dominate partition size
    ex_blocks = [b for b in blocks if re.match(r"\(\d+\) Exchange", b.strip())]
    assert ex_blocks
    for b in ex_blocks:
        assert "payload" not in b, b


def test_containment_joins_hashed_longs_no_cartesian(spark):
    """d12 draft: the containment self-join must ride 8-byte xxhash64
    keys (never the shingle strings) and stay equi-join — the shuffle
    payload bound is what makes the inverted index survive 100 TB."""
    docs = spark.table("documents")
    df = DD.containment_pairs(DD.shingle_table(docs), threshold=0.8)
    p = plan_of(df)
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    # the shingle strings were hashed to the checkpointed long column
    # _h before the join — the self-join keys are _h, and the raw
    # shingle string appears nowhere downstream of the checkpoint
    assert "_h#" in p
    assert "shingle" not in p


def test_cross_source_overlap_broadcasts_sizes(spark):
    """d13 draft: per-source totals are dimension-sized and must
    broadcast onto the fp-keyed pair rows; the fp self-join is
    equi-join only."""
    docs = spark.table("documents")
    p = plan_of(DD.cross_source_overlap(docs))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "BroadcastHashJoin" in p


def test_ivfpq_rerank_broadcasts_shortlist(spark):
    """s14 draft: the exact-refinement joins must broadcast the
    query-grain shortlist and query vectors onto the corpus scan —
    never a cartesian over the corpus. (The upstream ADC subtree keeps
    its 4-row subspace-dimension broadcast cross, the same accepted
    shape test_pq_scoring_joins_codes_not_vectors audits, so only
    CartesianProduct is globally forbidden; the refinement joins
    themselves must be BroadcastHashJoins on neighbor_id/query_id.)"""
    emb = spark.table("embeddings")
    df = SIM.ivfpq_topk_rerank(
        emb, emb.filter(F.col("vec_id") < 3), k=3, shortlist=12, num_cells=8, nprobe=2
    )
    p = plan_of(df)
    assert "CartesianProduct" not in p
    # the refinement equi-joins broadcast: formatted mode prints each
    # join's keys on "Left keys" detail lines — both refinement keys
    # must appear there
    import re
    key_lines = " | ".join(re.findall(r"Left keys \[\d+\]: \[[^\]]*\]", p))
    assert "neighbor_id" in key_lines
    assert "query_id" in key_lines
    assert "BroadcastHashJoin" in p


def test_range_search_joins_cells_no_corpus_cartesian(spark):
    """s16 draft: the radius search must keep ivf_topk's shape — the
    corpus side joins the broadcast query probes on the cell key
    (never a corpus cartesian) — minus the ranking: exactly one fewer
    Window than the top-k surface (the cell-assignment windows stay,
    the per-query rank window is gone; range search is a filter, not
    a ranking)."""
    emb = spark.table("embeddings")
    qs = emb.filter(F.col("vec_id") < 3)
    p = plan_of(
        SIM.range_search(emb, qs, threshold=0.2, num_cells=8, nprobe=2)
    )
    p_topk = plan_of(SIM.ivf_topk(emb, qs, k=3, num_cells=8, nprobe=2))
    assert "CartesianProduct" not in p
    assert "BroadcastHashJoin" in p
    # formatted output prints each Window node several times (tree +
    # detail sections); the ranking window's absence shows as a
    # strictly smaller count at a 2:3 node ratio (2 assignment/probe
    # windows vs those plus the per-query rank window)
    assert 0 < p.count("Window") < p_topk.count("Window")


def test_ngram_novelty_aggregates_hashed_longs(spark):
    """t31 draft: both rollups run over the xxhash64 relation
    (map-side partial aggregates), and the spread join is an equi-join
    on the 8-byte hash — no string shingle ever shuffles twice."""
    docs = spark.table("documents")
    p = plan_of(DD.ngram_novelty(docs))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "xxhash64" in p
    assert p.count("partial_count") >= 2  # both rollups map-side combined


def test_cell_balance_live_and_indexed_share_rollup_shape(spark, tmp_path):
    """s20 draft: the persisted-layout profile's aggregate subtree has
    the same shape as the live one (shared _occupancy_profile) while
    its scan reads nothing but the partition column."""
    emb = spark.table("embeddings")
    path = str(tmp_path / "ivf_plan_idx")
    SIM.build_ivf_index(emb, path, num_cells=8)
    p_idx = plan_of(SIM.cell_balance_from_index(spark, path))
    assert "ReadSchema: struct<>" in p_idx
    for p in (p_idx, plan_of(SIM.cell_balance(emb))):
        assert "partial_count" in p       # map-side combine
        assert "CartesianProduct" not in p


def test_minhash_estimate_scores_from_signatures_only(spark):
    """d15 draft (r11 queue): the estimate path's scoring joins run on
    the doc-grain signature table — banding joins on the 8-byte
    xxhash64 bucket, scoring equi-joins on doc ids; no cartesian, and
    the shingle explode does not feed the candidate join (the
    signature table is a materialized localCheckpoint, so the plan's
    join subtree scans ExistingRDD, not a second explode)."""
    docs = spark.table("documents")
    p = plan_of(DD.minhash_estimate_pairs(docs))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "xxhash64" in p
    # every scan in the pair plan is the checkpointed signature table
    # (the only explode left is the doc-grain banding explode over the
    # 8-component signature — the corpus text never re-scans)
    assert "Scan ExistingRDD" in p
    assert "Scan parquet" not in p


def test_token_entropy_is_one_pass_with_map_side_combine(spark):
    """t33 draft (r11 queue): one corpus explode into a map-side
    combined (source, word) count, broadcast totals join, source-grain
    final rollup — no cartesian, no second corpus scan."""
    from datacatalog_tag_engine_spark.pipeline import text as TXT

    docs = spark.table("documents")
    p = plan_of(TXT.token_entropy(docs))
    assert "CartesianProduct" not in p
    assert "partial_count" in p
    assert "BroadcastHashJoin" in p
    # formatted output prints each scan node twice (tree + detail):
    # 4 occurrences = the counts + totals branches, nothing more
    assert p.count("Scan parquet") <= 4


def test_incremental_pipeline_delta_is_anti_join(spark):
    """q80 draft (r11 queue): the refresh plan's shape — the delta is
    a fingerprint LEFT ANTI join, the new-docs restriction a LEFT SEMI,
    and the shard diff a full outer on the id; nothing cartesian."""
    from datacatalog_tag_engine_spark.pipeline.export import dirty_shards
    from datacatalog_tag_engine_spark.streaming.dedup import clean_ingest_stream

    docs = spark.table("documents")
    prior = docs.filter(F.col("doc_id") % 3 != 0)
    batch = docs.filter(F.col("doc_id") % 3 == 0)
    delta = DD.incremental_delta(batch, prior).select("doc_id")
    fresh = batch.join(delta, "doc_id", "left_semi")
    cleaned = clean_ingest_stream(
        fresh, min_words=20, min_stopword_hits=0,
        max_dup_word_frac=1.0, max_top_bigram_frac=1.0,
    )
    new_ids = prior.select("doc_id").unionByName(cleaned.select("doc_id"))
    p = plan_of(dirty_shards(prior.select("doc_id"), new_ids, 8))
    assert "CartesianProduct" not in p
    assert "LeftAnti" in p
    assert "LeftSemi" in p
    assert "FullOuter" in p
