"""Round-13 rotation bank: operators built late in round 11, AFTER
the 20-draft r12 queue was sized to its window (20 drafts + the t02
re-cert witness + 29 ledger fillers = 50 slots — no room left). Same
contract as every drafts file: DuckDB-proven here, wired into
__spark_entry__ at their rotation with the SQL generator moved
verbatim.

- d22_clusters_star — connected components by alternating
  large-star / small-star contraction (dedup.neardup_clusters_star;
  Kiveris et al., SoCC'14): the O(log n)-round scale path for the one
  graph shape min-label propagation handles badly, LONG CHAINS
  (min-label is O(component diameter) rounds — a 10k-doc
  paragraph-overlap chain would be 10k shuffle rounds; star
  contraction halves every path per round-pair, ~14 rounds). Output
  IDENTICAL to neardup_clusters, so the wired q34 oracle serves it
  verbatim (the s29/s31 identity pattern) and the two are drop-in
  interchangeable inside every cluster-consuming chain (q48, d17,
  q73, q88).

- t39_line_lang_profile — within-document language segmentation at
  line grain (text.line_language_profile): each non-blank line
  classified with t03's exact rule, doc-grain profile (dominant,
  mixed flag, distinct langs). Entirely row-local higher-order
  functions — no explode, no shuffle, a pure scan at 100 TB. The
  routing companion to t03 (label) and t36 (confidence): this says
  whether one label is even the right shape for the doc.

- t40_line_repetition — the line/paragraph half of Gopher's
  repetition block (text.line_repetition_signals): duplicate line /
  paragraph fractions and their character-fraction forms, the paper's
  earlier-occurrence definition, NULL when unmeasurable. Row-local
  transform-with-index + prefix-exists — zero shuffles. t11 covers
  the word/n-gram half; gopher_filter's dup_words proxy can cite this
  as the faithful form at rotation.

- d23_signature_store (ROTATED EARLY, at r12: the r11 VERDICT asked
  its driver row forward — wired as d23_neardup_from_store with the
  d19 oracle verbatim; the identity proofs below remain the pytest
  half of that certification) — the dedup family's persisted artifact
  (dedup.build_signature_store / append_to_signature_store /
  incremental_neardup_from_store): build once from the deduped
  archive, append each accepted delta, serve daily near-dup at
  signature grain with resident text never re-read. Parameters pinned
  by a _sigstore_meta table (mixing shingle/hash spaces is the
  operational hazard). Identity proofs: from_store == fresh resident
  signatures; build(A)+append(B) == build(A∪B). Oracle at rotation:
  the d19 string verbatim (identity), the s31 pattern.

- q100_score_gate_calibration — per-score-decile keep rate of the
  Gopher gate (profiling.score_gate_calibration): the cheap-score vs
  expensive-gate calibration table, deciles from curriculum_order's
  certified staging, oracle nests the wired t02 + t16 strings (the
  d17 two-CTE pattern). Dimension-grain output; one doc-grain join.

- s32_mutual_knn_clusters — SemDeDup-shaped semantic clustering
  (similarity.mutual_knn_clusters): connected components over the
  MUTUAL edges of the k-NN graph (symmetric evidence — a hub vector
  in everyone's top-k cannot glue clusters one-directionally),
  composed from s30's graph and d22's star contraction. Oracle: the
  s30 edge derivation + the q34 recursive-reach pattern over mutual
  edges.

- t41_ngram_coverage — the n-gram half of Gopher's repetition block
  at character grain (text.ngram_coverage_signals): top-{2,3,4}-gram
  and dup-{5..10}-gram character-coverage fractions, positional (the
  count x length shortcut overshoots on self-repeating grams). A
  deliberate Arrow/mapInPandas path: the coverage mask is positional
  and nesting it in higher-order functions re-evaluated
  sub-expressions per element (no CSE on Spark's interpreted HOF
  path — measured as an effective hang); the per-doc Python is
  LINEAR and the op stays a shuffle-free scan projection. Oracle:
  relational replay with a set-based coverage join.

- (rotation note — DONE at r12) the streaming heavy-hitter monitor
  entered the r12 window as q99_heavy_hitter_state via
  streaming.quality.heavy_hitter_replay (the monitor loop's batch
  replay: per-bucket MG state grain -> heavy_hitter_candidates ->
  exact recount), oracle = the t37 SQL verbatim; the multi-micro-batch
  fold parity stays pinned in test_streaming.py.

- t42_pii_incidence — per-(source, pii_type) PII mass from the t06
  pattern surface (text.pii_incidence): sequential-pipeline counting
  (each pattern counts against the previous pattern's redacted text),
  so incidence == redact_pii's redaction count by construction. One
  scan, dimension-grain shuffle. The governance number the reference's
  DLP rollups (J2) answer per column, here at corpus grain.

- t43_winnowing — MOSS winnowing fingerprints (Schleimer et al.,
  SIGMOD'03; text.winnowing_fingerprints): k-gram hashes, window-min
  selection (rightmost on ties), dedup — guarantees any shared
  substring of length >= w + k - 1 shares a fingerprint, the
  contained-copy contract minhash/Jaccard don't give. Pure row-local
  HOFs, no shuffle; output is the copy-detection join surface.
  Engine-portable gram hash (md5 first 8 hex, the q58 rule).

- d24_threshold_sweep — the dedup-threshold decision table
  (dedup.candidate_threshold_sweep): all LSH candidates scored on the
  exact dyadic estimate lattice + the cumulative pair mass each
  threshold keeps. cum(v) == a real d15 run at threshold v
  (asserted) — the d20 evidence discipline applied to the threshold.

- q101_shard_skew — straggler check for export manifests
  (export.shard_skew_profile): exact percentiles + integer micro
  max/mean ratio at manifest grain; the number a training job reads
  before inheriting a layout (one reader task per shard).

- d25_winnowing_overlap — winnowing's cross-document consumer
  (dedup.winnowing_overlap_pairs): distinct (doc, fp) rows, hot-
  fingerprint cap via the bounded broadcast anti-join (the d12
  discipline), fingerprint-bucketed pair join, containment-style
  overlap vs the SMALLER doc. Finds contained copies whole-document
  minhash provably misses (asserted: a pasted paragraph scores ~1.0
  here, < 0.5 est_jaccard there).

- d26_cluster_purity — per-cluster provenance purity
  (dedup.cluster_purity): n_sources + deterministic majority share at
  cluster grain — enumerates the cross-source mirror clusters q88's
  per-source rollup can only sum. Oracle: q34-chain surgery.

- s33_recall_from_index — serving recall measured off the PERSISTED
  index (fresh-index identity: replays the s05 oracle verbatim and
  equals the in-memory s05 computation); the post-maintenance QA row —
  after a delete, nprobe == num_cells recall against the survivor
  ground truth is exactly 1 (asserted).

r13 WINDOW ARITHMETIC (ledger state at r12 close, computed by
tools/window_ledger.py): 14 bank drafts = 14 rotation slots; no
code-changed re-cert obligations are known from r12's post-freeze
work (all additive, outside certified paths); the remaining 36 slots
come from the mechanical aging ledger — the 36 oldest of the 43
r9-last-green rows by name order. Cap the r13 wiring test's ledger
at rounds < 13. Oracle notes for rotation: d22 + s33 are identity
oracles (q34 / s05 verbatim); d25 nests the t43 winnowing SQL; d26
is q34-chain surgery; the rest carry their own generators above.
sigstore_ingest_stream (streaming/dedup.py) is a FUTURE driver-row
candidate via the q85-style batch replay; its stream==batch parity
is already pinned in test_streaming.py.

ROTATION-TIME CONTRACT IMPROVEMENT — DONE at r12: neardup_clusters'
distributed regime now escalates to neardup_clusters_star on budget
exhaustion (exact answer at O(log n) cost) instead of raising;
escalate_to_star=False keeps the old contract, and the in-window q88
row + the cc_ladder shallow/escalation rungs carry the certification.
"""

import pytest

from pyspark.sql import functions as F

import __spark_entry__ as E
from datacatalog_tag_engine_spark.pipeline import dedup as DD

SF = "/root/testdata/sf0.001"


@pytest.fixture()
def ddb():
    import duckdb

    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{SF}/documents.parquet'")
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM '{SF}/embeddings.parquet'")
    yield con
    con.close()


def _rows(df):
    cols = sorted(df.columns)
    return sorted(tuple(r) for r in df.select(*cols).collect())


def _sql_rows(con, sql):
    rel = con.sql(sql)
    cols = sorted(rel.columns)
    return sorted(tuple(r) for r in con.sql(f"SELECT {', '.join(cols)} FROM rel").fetchall())


def test_oracle_draft_clusters_star(spark, ddb):
    """Identity oracle: star contraction's labeling over the q34 pair
    chain equals the wired q34 oracle string verbatim."""
    docs = spark.table("documents")
    got = _rows(DD.neardup_clusters_star(docs, DD.minhash_dedup(docs)))
    rel = ddb.sql(E.oracle_sql()["q34_dedup_clusters"])
    cols = sorted(rel.columns)
    exp = sorted(tuple(r) for r in ddb.sql(f"SELECT {', '.join(cols)} FROM rel").fetchall())
    assert got == exp and len(got) == 500


def test_clusters_star_equals_minlabel_and_survives_long_chains(spark):
    """The drop-in contract and the reason to exist, in one test:
    (a) on a random graph both algorithms produce identical labels;
    (b) on a 200-node chain star contraction converges (every node
    labels 0) while min-label's distributed regime raises at its
    default 20 rounds — the diameter wall the new operator removes."""
    import random

    rng = random.Random(7)
    rdocs = spark.createDataFrame([(i,) for i in range(300)], "doc_id long")
    edges = [
        (a, b)
        for a, b in [(rng.randrange(300), rng.randrange(300)) for _ in range(150)]
        if a != b
    ]
    rpairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    assert _rows(DD.neardup_clusters(rdocs, rpairs)) == _rows(
        DD.neardup_clusters_star(rdocs, rpairs)
    )

    n = 200
    cdocs = spark.createDataFrame([(i,) for i in range(n + 1)], "doc_id long")
    cpairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "doc_a long, doc_b long"
    )
    star = DD.neardup_clusters_star(cdocs, cpairs).collect()
    assert len(star) == n + 1 and all(r["cluster_id"] == 0 for r in star)
    # r12 contract: the distributed min-label regime now ESCALATES to
    # star on budget exhaustion (exact answer) instead of raising; the
    # raise survives behind escalate_to_star=False
    esc = DD.neardup_clusters(
        cdocs, cpairs, driver_edge_limit=0, max_iterations=20
    ).collect()
    assert len(esc) == n + 1 and all(r["cluster_id"] == 0 for r in esc)
    with pytest.raises(RuntimeError):
        DD.neardup_clusters(
            cdocs, cpairs, driver_edge_limit=0, max_iterations=20,
            escalate_to_star=False,
        ).collect()


# --- t39: line-level language segmentation -------------------------------------


def line_lang_profile_sql() -> str:
    """Replay t03's rule per non-blank LINE, then the doc-grain
    profile. Marker membership, CJK check, tie order, and the
    zero-evidence 'und' route are all copied from the wired t03
    semantics; dominant = most lines with the fixed en>de>fr>es>zh>und
    tiebreak."""
    from datacatalog_tag_engine_spark.pipeline.text import LANG_MARKERS

    score_cols = []
    for lang, markers in LANG_MARKERS.items():
        lst = ", ".join(f"'{m}'" for m in markers)
        score_cols.append(
            f"len(list_filter(regexp_split_to_array(lower(l), '\\s+'),"
            f" w -> length(w) > 0 AND list_contains([{lst}], w))) AS s_{lang}"
        )
    scores = ",\n         ".join(score_cols)
    # fixed tie order en>de>fr>es via strictly-greater comparisons on
    # the ordered chain (first max wins)
    return rf"""
WITH lines AS (
  SELECT doc_id, unnest(list_filter(regexp_split_to_array(coalesce(text, ''), '\n'),
                 l -> length(trim(l)) > 0)) AS l
  FROM documents),
scored AS (
  SELECT doc_id, l,
         {scores},
         regexp_matches(l, '[一-鿿]') AS cjk
  FROM lines),
lab AS (
  SELECT doc_id,
         CASE WHEN cjk THEN 'zh'
              WHEN greatest(s_en, s_de, s_fr, s_es) = 0 THEN 'und'
              WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
              WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
              WHEN s_fr >= s_es THEN 'fr'
              ELSE 'es' END AS lang
  FROM scored),
counts AS (
  SELECT d.doc_id,
         count(lab.lang) AS n_lines,
         sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS c_en,
         sum(CASE WHEN lang = 'de' THEN 1 ELSE 0 END) AS c_de,
         sum(CASE WHEN lang = 'fr' THEN 1 ELSE 0 END) AS c_fr,
         sum(CASE WHEN lang = 'es' THEN 1 ELSE 0 END) AS c_es,
         sum(CASE WHEN lang = 'zh' THEN 1 ELSE 0 END) AS c_zh,
         sum(CASE WHEN lang = 'und' THEN 1 ELSE 0 END) AS c_und
  FROM (SELECT DISTINCT doc_id FROM documents) d
  LEFT JOIN lab ON d.doc_id = lab.doc_id
  GROUP BY d.doc_id)
SELECT doc_id,
       n_lines::INT AS n_lines,
       CASE WHEN n_lines = 0 THEN 'und'
            WHEN c_en >= c_de AND c_en >= c_fr AND c_en >= c_es AND c_en >= c_zh AND c_en >= c_und THEN 'en'
            WHEN c_de >= c_fr AND c_de >= c_es AND c_de >= c_zh AND c_de >= c_und THEN 'de'
            WHEN c_fr >= c_es AND c_fr >= c_zh AND c_fr >= c_und THEN 'fr'
            WHEN c_es >= c_zh AND c_es >= c_und THEN 'es'
            WHEN c_zh >= c_und THEN 'zh'
            ELSE 'und' END AS dominant_lang,
       greatest(c_en, c_de, c_fr, c_es, c_zh, c_und)::INT AS n_dominant_lines,
       ((c_en > 0)::INT + (c_de > 0)::INT + (c_fr > 0)::INT
        + (c_es > 0)::INT + (c_zh > 0)::INT)::INT AS n_langs,
       ((c_en > 0)::INT + (c_de > 0)::INT + (c_fr > 0)::INT
        + (c_es > 0)::INT + (c_zh > 0)::INT) >= 2 AS is_mixed
FROM counts
"""


def test_oracle_draft_line_lang_profile(spark, ddb):
    from datacatalog_tag_engine_spark.pipeline.text import line_language_profile

    got = _rows(line_language_profile(spark.table("documents")))
    rel = ddb.sql(line_lang_profile_sql())
    cols = sorted(rel.columns)
    exp = sorted(
        tuple(r) for r in ddb.sql(f"SELECT {', '.join(cols)} FROM rel").fetchall()
    )
    assert got == exp and len(got) == 500


def test_line_lang_profile_segments_mixed_docs(spark):
    """A half-English/half-German doc is flagged mixed with the right
    dominant; per-line labels agree with t03 applied line-wise; empty
    and whitespace-only docs profile as (0 lines, und, not mixed)."""
    from datacatalog_tag_engine_spark.pipeline.text import (
        language_id,
        line_language_profile,
    )

    en = "the cat and the dog went to the market for fish"
    de = "der hund und die katze ist nicht mit der maus"
    rows = [
        (1, "\n".join([en, en, de])),
        (2, ""),
        (3, "   \n  \n"),
        (4, de),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in line_language_profile(df).collect()}
    assert out[1]["dominant_lang"] == "en" and out[1]["is_mixed"]
    assert out[1]["n_lines"] == 3 and out[1]["n_dominant_lines"] == 2
    assert out[1]["n_langs"] == 2
    for d in (2, 3):
        assert out[d]["n_lines"] == 0 and out[d]["dominant_lang"] == "und"
        assert not out[d]["is_mixed"] and out[d]["n_langs"] == 0
    assert out[4]["dominant_lang"] == "de" and not out[4]["is_mixed"]
    # line-wise agreement with t03: single-line docs match language_id
    single = spark.createDataFrame([(10, en), (11, de)], "doc_id long, text string")
    t03 = {r["doc_id"]: r["lang_pred"] for r in language_id(single).collect()}
    prof = {r["doc_id"]: r["dominant_lang"] for r in line_language_profile(single).collect()}
    assert t03 == prof


# --- t40: line/paragraph repetition signals -------------------------------------


def line_repetition_sql() -> str:
    """Gopher's duplicate line/paragraph fractions replayed: an
    occurrence is a duplicate iff an identical unit appeared earlier
    in the doc (1-based lambda index in DuckDB, prefix slice +
    list_contains), NULL fractions when there is nothing to measure."""

    def block(expr: str, prefix: str) -> str:
        return f"""
  SELECT doc_id,
         len(u) AS n_{prefix}s,
         CASE WHEN len(u) > 0 THEN round(
           len(list_filter(list_transform(u, (x, i) -> list_contains(u[1:i-1], x)),
                           d -> d)) / len(u), 4) END AS dup_{prefix}_frac,
         CASE WHEN list_sum(list_transform(u, x -> length(x))) > 0 THEN round(
           coalesce(list_sum(list_transform(list_filter(
               list_transform(u, (x, i) -> CASE WHEN list_contains(u[1:i-1], x)
                                                THEN length(x) END),
               v -> v IS NOT NULL), v -> v)), 0)
           / list_sum(list_transform(u, x -> length(x))), 4) END AS dup_{prefix}_char_frac
  FROM (SELECT doc_id, {expr} AS u FROM documents)"""

    lines = (
        "list_filter(regexp_split_to_array(coalesce(text, ''), '\\n'),"
        " l -> length(trim(l)) > 0)"
    )
    paras = (
        "list_filter(list_transform(regexp_split_to_array(coalesce(text, ''), '\\n\\n+'),"
        " p -> trim(p)), p -> length(p) > 0)"
    )
    return f"""
WITH l AS ({block(lines, "line")}),
p AS ({block(paras, "para")})
SELECT l.doc_id, l.n_lines, l.dup_line_frac, l.dup_line_char_frac,
       p.n_paras, p.dup_para_frac, p.dup_para_char_frac
FROM l JOIN p USING (doc_id)
"""


def test_oracle_draft_line_repetition(spark, ddb):
    from datacatalog_tag_engine_spark.pipeline.text import line_repetition_signals

    got = _rows(line_repetition_signals(spark.table("documents")))
    rel = ddb.sql(line_repetition_sql())
    cols = sorted(rel.columns)
    exp = sorted(
        tuple(round(v, 6) if isinstance(v, float) else v for v in r)
        for r in ddb.sql(f"SELECT {', '.join(cols)} FROM rel").fetchall()
    )
    got = [tuple(round(v, 6) if isinstance(v, float) else v for v in r) for r in got]
    assert got == exp and len(got) == 500


def test_line_repetition_counts_duplicates_like_the_paper(spark):
    """Hand-checked fixture: 'a\\na\\nb\\na' has 4 lines, occurrences
    2 and 4 are duplicates (dup_line_frac 0.5; chars 2/4 of equal-length
    lines); a blank-only doc measures NULL; paragraph duplicates follow
    the same earlier-occurrence rule on the \\n\\n split."""
    from datacatalog_tag_engine_spark.pipeline.text import line_repetition_signals

    rows = [
        (1, "a\na\nb\na"),
        (2, "   \n\n  "),
        (3, "para one\n\npara two\n\npara one"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in line_repetition_signals(df).collect()}
    assert out[1]["n_lines"] == 4 and out[1]["dup_line_frac"] == 0.5
    assert out[1]["dup_line_char_frac"] == 0.5
    assert out[2]["n_lines"] == 0 and out[2]["dup_line_frac"] is None
    assert out[2]["dup_line_char_frac"] is None
    assert out[3]["n_paras"] == 3 and round(out[3]["dup_para_frac"], 4) == 0.3333
    # duplicate para chars: 'para one' (8) of 24 total trimmed chars
    assert round(out[3]["dup_para_char_frac"], 4) == round(8 / 24, 4)


# --- d23: persisted signature store ---------------------------------------------


def test_signature_store_identity_and_append(spark, tmp_path):
    """The dedup artifact lifecycle, s31-style identity proofs:
    (a) from_store == computing resident signatures fresh;
    (b) build(A) + append(B) == build(A ∪ B) — append-only files,
    parameters pinned by the store meta, not the call site."""
    from datacatalog_tag_engine_spark.pipeline.dedup import (
        append_to_signature_store,
        build_signature_store,
        incremental_neardup_from_store,
        incremental_neardup_pairs,
    )

    docs = spark.table("documents")
    resident = docs.filter(F.col("doc_id") % 3 != 0)
    delta = docs.filter(F.col("doc_id") % 3 == 0)

    p = str(tmp_path / "sigstore")
    n = build_signature_store(resident, p)
    assert n == resident.count()
    got = _rows(incremental_neardup_from_store(spark, p, delta))
    fresh = _rows(incremental_neardup_pairs(delta, resident))
    assert got == fresh and len(got) > 0

    # append lifecycle: store(A) + append(B) == store(A ∪ B)
    a = docs.filter(F.col("doc_id") % 3 == 1)
    b = docs.filter(F.col("doc_id") % 3 == 2)
    p2 = str(tmp_path / "sigstore_ab")
    build_signature_store(a, p2)
    appended = append_to_signature_store(spark, p2, b)
    assert appended == b.count()
    p3 = str(tmp_path / "sigstore_union")
    build_signature_store(a.unionByName(b), p3)
    assert _rows(incremental_neardup_from_store(spark, p2, delta)) == _rows(
        incremental_neardup_from_store(spark, p3, delta)
    )


def test_signature_store_pins_its_parameter_space(spark, tmp_path):
    """A store built at k=4/num_hashes=16 appends and serves in THAT
    space regardless of caller defaults — the meta is the contract
    (mixing shingle/hash parameters silently corrupts candidate
    generation, the hazard the meta exists to remove)."""
    from datacatalog_tag_engine_spark.pipeline.dedup import (
        _sigstore_meta,
        append_to_signature_store,
        build_signature_store,
        incremental_neardup_from_store,
        incremental_neardup_pairs,
    )

    docs = spark.table("documents")
    resident = docs.filter(F.col("doc_id") % 2 == 0)
    delta = docs.filter(F.col("doc_id") % 2 == 1).limit(50)
    p = str(tmp_path / "sigstore_k4")
    build_signature_store(resident, p, k=4, num_hashes=16)
    meta = _sigstore_meta(spark, p)
    assert meta == {"k": 4, "num_hashes": 16, "id_col": "doc_id"}
    append_to_signature_store(spark, p, delta.limit(0))  # no-op append, k=4 space
    got = _rows(incremental_neardup_from_store(spark, p, delta, bands=8))
    fresh = _rows(
        incremental_neardup_pairs(delta, resident, k=4, num_hashes=16, bands=8)
    )
    assert got == fresh
    # stored signature width is the meta's, not the default 8
    cols = spark.read.parquet(p).columns
    assert sum(c.startswith("sig_") for c in cols) == 16


# --- q100: score/gate calibration ------------------------------------------------


def score_gate_calibration_sql(t02_sql: str, t16_sql: str, n: int = 10) -> str:
    """Nests BOTH wired strings (t02 for the score, t16 for the keep)
    — the d17 two-CTE pattern; decile = SQL-standard NTILE over
    (quality_score desc, doc_id), exactly curriculum_order's staging."""
    return f"""
WITH t02 AS ({t02_sql}),
t16 AS ({t16_sql}),
staged AS (
  SELECT doc_id, ntile({n}) OVER (ORDER BY quality_score DESC, doc_id) AS decile
  FROM t02)
SELECT s.decile, count(*)::BIGINT AS n_docs,
       sum(CASE WHEN t16.keep THEN 1 ELSE 0 END)::BIGINT AS n_kept,
       round(sum(CASE WHEN t16.keep THEN 1 ELSE 0 END) / count(*), 4) AS keep_rate
FROM staged s JOIN t16 USING (doc_id)
GROUP BY s.decile
"""


def test_oracle_draft_score_gate_calibration(spark, ddb):
    from datacatalog_tag_engine_spark.pipeline.profiling import score_gate_calibration

    got = _rows(score_gate_calibration(spark.table("documents")))
    o = E.oracle_sql()
    rel = ddb.sql(score_gate_calibration_sql(o["t02_quality"], o["t16_gopher_filter"]))
    cols = sorted(rel.columns)
    exp = sorted(
        tuple(round(v, 6) if isinstance(v, float) else v for v in r)
        for r in ddb.sql(f"SELECT {', '.join(cols)} FROM rel").fetchall()
    )
    got = [tuple(round(v, 6) if isinstance(v, float) else v for v in r) for r in got]
    assert got == exp and len(got) == 10


def test_score_gate_calibration_accounts_every_doc(spark):
    """Decile populations follow the NTILE distribution exactly and
    sum to the corpus; keep counts never exceed their decile."""
    from datacatalog_tag_engine_spark.pipeline.profiling import score_gate_calibration

    rows = score_gate_calibration(spark.table("documents")).collect()
    n = spark.table("documents").count()
    assert sum(r["n_docs"] for r in rows) == n
    q, rem = divmod(n, 10)
    sizes = sorted((r["n_docs"] for r in rows), reverse=True)
    assert sizes == [q + 1] * rem + [q] * (10 - rem)
    for r in rows:
        assert 0 <= r["n_kept"] <= r["n_docs"]
        assert r["keep_rate"] == round(r["n_kept"] / r["n_docs"], 4)


# --- s32: mutual-kNN semantic clusters -------------------------------------------


def mutual_knn_clusters_sql(k: int = 5, num_cells: int = 8) -> str:
    """The s30 edge derivation + a recursive reach over MUTUAL edges —
    the q34 cluster-CTE pattern applied to the semantic graph."""
    return f"""
WITH RECURSIVE
e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cents AS (SELECT vec_id AS cell, v AS cent_v FROM e ORDER BY vec_id LIMIT {num_cells}),
assign AS (
  SELECT vec_id, v, cell FROM (
    SELECT e.vec_id, e.v, c.cell,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY round(list_cosine_similarity(e.v, c.cent_v), 6) DESC, c.cell) AS rn
    FROM e CROSS JOIN cents c) WHERE rn = 1),
scored AS (
  SELECT q.vec_id AS query_id, a.vec_id AS neighbor_id,
         round(list_cosine_similarity(q.v, a.v), 4) AS cosine
  FROM assign q JOIN assign a ON q.cell = a.cell AND q.vec_id <> a.vec_id),
edges AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
    FROM scored) WHERE rank <= {k}),
mutual AS (
  SELECT e.query_id AS da, e.neighbor_id AS db
  FROM edges e JOIN edges r
    ON r.query_id = e.neighbor_id AND r.neighbor_id = e.query_id
  WHERE e.query_id < e.neighbor_id),
medges AS (SELECT da AS src, dst FROM (SELECT da, db AS dst FROM mutual)
           UNION SELECT db, da FROM mutual),
reach(src, dst) AS (
  SELECT vec_id, vec_id FROM embeddings
  UNION
  SELECT r.src, m.dst FROM reach r JOIN medges m ON r.dst = m.src),
clusters AS (SELECT src AS vec_id, min(dst) AS cluster_id FROM reach GROUP BY src)
SELECT vec_id, cluster_id FROM clusters
"""


def test_oracle_draft_mutual_knn_clusters(spark, ddb):
    from datacatalog_tag_engine_spark.pipeline.similarity import mutual_knn_clusters

    con = ddb
    con.execute(
        f"CREATE VIEW IF NOT EXISTS embeddings AS SELECT * FROM '{SF}/embeddings.parquet'"
    )
    got = _rows(mutual_knn_clusters(spark.table("embeddings"), k=5, num_cells=8))
    rel = con.sql(mutual_knn_clusters_sql(5, 8))
    cols = sorted(rel.columns)
    exp = sorted(tuple(r) for r in con.sql(f"SELECT {', '.join(cols)} FROM rel").fetchall())
    assert got == exp and len(got) == 500


def test_mutual_knn_clusters_respect_the_graph(spark):
    """Structural invariants on the real table: every mutual edge's
    endpoints share a cluster; every non-singleton cluster is labeled
    by its own minimum; a cluster id is always a member id."""
    from datacatalog_tag_engine_spark.pipeline.similarity import (
        knn_graph,
        mutual_knn_clusters,
    )

    emb = spark.table("embeddings")
    labels = {r["vec_id"]: r["cluster_id"] for r in mutual_knn_clusters(emb).collect()}
    g = knn_graph(emb, k=5, num_cells=8)
    mutual_pairs = [
        (r["vec_id"], r["neighbor_id"]) for r in g.filter("mutual").collect()
    ]
    assert mutual_pairs
    for a, b in mutual_pairs:
        assert labels[a] == labels[b], (a, b)
    from collections import defaultdict

    members = defaultdict(list)
    for v, c in labels.items():
        members[c].append(v)
    for c, vs in members.items():
        assert c == min(vs)


# --- t41: n-gram character-coverage signals --------------------------------------


def ngram_coverage_sql(top_ns=(2, 3, 4), dup_ns=(5, 6, 7, 8, 9, 10)) -> str:
    """Relational replay of the coverage masks: per n, gram starts
    with 1-based positions, duplicate grams from counts >= 2 (or the
    modal gram by (count desc, gram asc) for the top form), then
    set-based coverage — each flagged start expands to its covered
    word positions and joins the word lengths."""
    ctes = [
        r"""base AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(coalesce(text, '')), '\s+'),
                     x -> length(x) > 0) AS words
  FROM documents)""",
        """w AS (
  SELECT doc_id, words, len(words) AS nw,
         coalesce(list_sum(list_transform(words, x -> length(x))), 0) AS ct
  FROM base)""",
        """wpos AS (
  SELECT doc_id, unnest(list_transform(range(1, len(words) + 1),
                 j -> {'j': j, 'wlen': length(words[j])}), recursive := true) AS _s
  FROM base WHERE len(words) > 0)""",
    ]
    sel = ["w.doc_id"]
    joins = []

    def gram_ctes(n: int, kind: str) -> None:
        tag = f"{kind}{n}"
        ctes.append(
            f"""g{tag} AS (
  SELECT doc_id, unnest(list_transform(range(1, len(words) - {n - 2}),
                 i -> {{'i': i, 'gram': array_to_string(words[i:i+{n - 1}], ' ')}}),
                 recursive := true) AS _s
  FROM base WHERE len(words) >= {n})"""
        )
        ctes.append(
            f"""c{tag} AS (SELECT doc_id, gram, count(*) AS c FROM g{tag} GROUP BY 1, 2)"""
        )
        if kind == "top":
            ctes.append(
                f"""m{tag} AS (
  SELECT doc_id, gram FROM (
    SELECT doc_id, gram, row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, gram) AS rn
    FROM c{tag}) WHERE rn = 1)"""
            )
            flag_src = f"m{tag}"
        else:
            ctes.append(
                f"""m{tag} AS (SELECT doc_id, gram FROM c{tag} WHERE c >= 2)"""
            )
            flag_src = f"m{tag}"
        ctes.append(
            f"""f{tag} AS (SELECT g.doc_id, g.i FROM g{tag} g JOIN {flag_src} USING (doc_id, gram))"""
        )
        # set-based coverage: expand each flagged start i to its covered
        # word positions i..i+n-1, dedup, join word lengths (a
        # correlated EXISTS per word was quadratic for DuckDB here)
        ctes.append(
            f"""cov{tag} AS (
  SELECT DISTINCT doc_id, unnest(range(i, i + {n})) AS j FROM f{tag})"""
        )
        ctes.append(
            f"""v{tag} AS (
  SELECT wp.doc_id, sum(wp.wlen) AS cchars
  FROM wpos wp JOIN cov{tag} c ON c.doc_id = wp.doc_id AND c.j = wp.j
  GROUP BY 1)"""
        )
        col = f"{'top' if kind == 'top' else 'dup'}_{n}_gram_char_frac"
        sel.append(
            f"CASE WHEN w.nw >= {n} AND w.ct > 0 "
            f"THEN round(coalesce(v{tag}.cchars, 0) / w.ct, 4) END AS {col}"
        )
        joins.append(f"LEFT JOIN v{tag} ON v{tag}.doc_id = w.doc_id")

    for n in top_ns:
        gram_ctes(n, "top")
    for n in dup_ns:
        gram_ctes(n, "dup")
    return (
        "WITH " + ",\n".join(ctes) + "\nSELECT " + ",\n       ".join(sel)
        + "\nFROM w " + " ".join(joins)
    )


def test_oracle_draft_ngram_coverage(spark, ddb):
    from datacatalog_tag_engine_spark.pipeline.text import ngram_coverage_signals

    got = _rows(ngram_coverage_signals(spark.table("documents")))
    rel = ddb.sql(ngram_coverage_sql())
    cols = sorted(rel.columns)
    exp = sorted(
        tuple(round(v, 6) if isinstance(v, float) else v for v in r)
        for r in ddb.sql(f"SELECT {', '.join(cols)} FROM rel").fetchall()
    )
    got = [tuple(round(v, 6) if isinstance(v, float) else v for v in r) for r in got]
    assert got == exp and len(got) == 500


def test_ngram_coverage_hand_fixtures(spark):
    """Hand-checked Gopher semantics: overlapping occurrences of a
    self-repeating gram cover each word once (fraction <= 1 always);
    the duplicate mask covers the union of duplicate occurrences;
    short docs are NULL (not measurable)."""
    from datacatalog_tag_engine_spark.pipeline.text import ngram_coverage_signals

    rows = [
        (1, "x y z x y z x y z q r s"),
        (2, " ".join(["w"] * 12)),
        (3, "one two"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in ngram_coverage_signals(df).collect()}
    # doc 1: 'x y' starts at 1,4,7 covering words 1-2,4-5,7-8 -> 6/12
    assert out[1]["top_2_gram_char_frac"] == 0.5
    # dup 5-grams start at 1&4 and 2&5 -> words 1..9 covered -> 9/12
    assert out[1]["dup_5_gram_char_frac"] == 0.75
    assert out[1]["dup_7_gram_char_frac"] == 0.0
    # doc 2: every fraction exactly 1.0 (coverage, not count x length)
    for c in out[2].asDict():
        if c != "doc_id":
            assert out[2][c] == 1.0, c
    # doc 3: one bigram -> top_2 = 1.0; everything longer unmeasurable
    assert out[3]["top_2_gram_char_frac"] == 1.0
    assert out[3]["top_3_gram_char_frac"] is None
    assert out[3]["dup_5_gram_char_frac"] is None


def test_signature_store_append_is_idempotent(spark, tmp_path):
    """The torn-append recovery path: re-running an append (same
    delta) is a no-op with skip_existing on — the store stays
    duplicate-free and from_store output is unchanged; with the guard
    off the second append DOES plant duplicates (pinning why the
    default is on)."""
    from datacatalog_tag_engine_spark.pipeline.dedup import (
        append_to_signature_store,
        build_signature_store,
        incremental_neardup_from_store,
    )

    docs = spark.table("documents")
    a = docs.filter(F.col("doc_id") % 3 == 1)
    b = docs.filter(F.col("doc_id") % 3 == 2)
    delta = docs.filter(F.col("doc_id") % 3 == 0)
    p = str(tmp_path / "sig_idem")
    build_signature_store(a, p)
    n1 = append_to_signature_store(spark, p, b)
    assert n1 == b.count()
    before = _rows(incremental_neardup_from_store(spark, p, delta))
    n2 = append_to_signature_store(spark, p, b)  # the retry
    assert n2 == 0
    assert spark.read.parquet(p).count() == a.count() + b.count()
    assert _rows(incremental_neardup_from_store(spark, p, delta)) == before
    # guard off: duplicates land (the hazard the default prevents)
    n3 = append_to_signature_store(spark, p, b.limit(5), skip_existing=False)
    assert n3 == 5
    ids = spark.read.parquet(p).groupBy("doc_id").count()
    assert ids.filter("count > 1").count() == 5


# --- t42: PII incidence --------------------------------------------------------


def pii_incidence_sql() -> str:
    """Sequential-pipeline replay of PII_PATTERNS (the same Python
    constant the Spark op reads — one source, no drift): each pattern
    counts against the previous pattern's redacted text, then a
    (source, pii_type) rollup."""
    from datacatalog_tag_engine_spark.pipeline.text import PII_PATTERNS

    stages, prev = [], "t"
    for i, (pat, repl) in enumerate(PII_PATTERNS):
        name = repl.strip("<>").lower()
        cur = f"t{i}"
        stages.append(
            f"s{i} AS (SELECT source, "
            f"len(regexp_extract_all({prev}, '{pat}')) AS n_{name}, "
            f"regexp_replace({prev}, '{pat}', '{repl}', 'g') AS {cur}"
            + (f", {', '.join('n_' + r.strip('<>').lower() for _, r in PII_PATTERNS[:i])}" if i else "")
            + f" FROM {'base' if i == 0 else 's' + str(i - 1)})"
        )
        prev = cur
    unions = " UNION ALL ".join(
        f"SELECT source, '{r.strip('<>').lower()}' AS pii_type, "
        f"n_{r.strip('<>').lower()} AS n FROM s{len(PII_PATTERNS) - 1}"
        for _, r in PII_PATTERNS
    )
    return f"""
WITH base AS (SELECT source, coalesce(text, '') AS t FROM documents),
{', '.join(stages)},
u AS ({unions})
SELECT source, pii_type,
       sum((n > 0)::INT)::BIGINT AS n_docs,
       sum(n)::BIGINT AS n_hits
FROM u GROUP BY source, pii_type
"""


def test_oracle_draft_pii_incidence(spark, ddb):
    from datacatalog_tag_engine_spark.pipeline import text as TXT

    got = _rows(TXT.pii_incidence(spark.table("documents")))
    want = _sql_rows(ddb, pii_incidence_sql())
    assert got == want
    assert len(got) > 0


def test_pii_incidence_matches_redaction_and_sequences(spark):
    """(a) Summed incidence equals redact_pii's total redaction count
    (the same sequential semantics, asserted end-to-end). (b) The
    sequential pipeline is real: an email's digits are consumed by the
    email stage, never re-counted by the phone stage."""
    from pyspark.sql import functions as F

    from datacatalog_tag_engine_spark.pipeline import text as TXT

    docs = spark.table("documents")
    inc = TXT.pii_incidence(docs)
    total = inc.agg(F.sum("n_hits")).first()[0]
    red = TXT.redact_pii(docs).agg(F.sum("n_redactions")).first()[0]
    assert total == red
    rows = [
        (1, "s1", "mail me at bob@example.com or call 555-123-4567"),
        (2, "s1", "server 10.0.0.1 fell over; also 192.168.1.1"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = {r["pii_type"]: r for r in TXT.pii_incidence(df).collect()}
    assert out["email"]["n_hits"] == 1
    assert out["ip"]["n_hits"] == 2
    assert out["phone"]["n_hits"] == 1
    assert out["email"]["n_docs"] == 1 and out["ip"]["n_docs"] == 1


# --- t43: winnowing fingerprints ------------------------------------------------


def winnowing_sql(k: int = 8, w: int = 4) -> str:
    """The winnowing selection replayed with DuckDB list functions:
    same gram hash (first 8 md5 hex digits as integer — the q58 rule),
    same rightmost-min window pick, same short-document degenerate
    case, distinct selections."""
    return f"""
WITH d AS (SELECT doc_id, lower(coalesce(text, '')) AS t FROM documents),
g AS (SELECT doc_id,
             CASE WHEN length(t) >= {k}
                  THEN list_transform(range(1, length(t) - {k} + 2),
                                      i -> substr(t, i, {k}))
                  ELSE [] END AS grams
      FROM d),
h AS (SELECT doc_id,
             list_transform(grams, g -> ('0x' || substr(md5(g), 1, 8))::BIGINT) AS hs
      FROM g),
p AS (SELECT doc_id,
             CASE
               WHEN len(hs) >= {w} THEN
                 list_transform(range(1, len(hs) - {w} + 2), i ->
                   struct_pack(
                     pos := i + {w} - list_position(list_reverse(hs[i:i + {w} - 1]),
                                                    list_min(hs[i:i + {w} - 1])),
                     fp := list_min(hs[i:i + {w} - 1])))
               WHEN len(hs) > 0 THEN
                 [struct_pack(
                    pos := len(hs) + 1 - list_position(list_reverse(hs), list_min(hs)),
                    fp := list_min(hs))]
               ELSE [] END AS picks
      FROM h),
sel AS (SELECT DISTINCT doc_id, unnest(picks, recursive := true) FROM p)
SELECT doc_id, pos::INT AS pos, fp FROM sel
"""


def test_oracle_draft_winnowing(spark, ddb):
    from datacatalog_tag_engine_spark.pipeline import text as TXT

    got = _rows(TXT.winnowing_fingerprints(spark.table("documents")))
    want = _sql_rows(ddb, winnowing_sql())
    assert got == want
    assert len(got) > 0


def test_winnowing_guarantee_and_density(spark):
    """The SIGMOD'03 contract on constructed fixtures: (a) two docs
    sharing a substring of length >= w + k - 1 share at least one
    fingerprint; (b) every window of w consecutive grams contains a
    selected position (coverage — the guarantee's mechanism); (c) a
    doc shorter than k emits nothing, one with < w grams emits exactly
    one fingerprint; (d) selection density is far below 1 (the sketch
    actually compresses)."""
    from datacatalog_tag_engine_spark.pipeline import text as TXT
    from datacatalog_tag_engine_spark.pipeline.text import WINNOW_K, WINNOW_W

    shared = "the quick brown fox jumps over the lazy dog"
    rows = [
        (1, "A unique preamble here. " + shared + " And a unique tail."),
        (2, "Totally different opening text: " + shared + " closing words."),
        (3, "no overlap with anything else at all in this one"),
        (4, "tiny"),  # < k chars -> no grams
        (5, "abcdefghij"),  # 3 grams at k=8 -> < w -> single pick
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    fps = TXT.winnowing_fingerprints(docs).collect()
    by_doc: dict[int, set] = {}
    for r in fps:
        by_doc.setdefault(r["doc_id"], set()).add(r["fp"])
    assert len(shared) >= WINNOW_W + WINNOW_K - 1
    assert by_doc[1] & by_doc[2]  # the guarantee
    assert not by_doc.get(4)
    assert len([r for r in fps if r["doc_id"] == 5]) == 1
    # coverage: every w-window of doc 3's gram sequence holds a pick
    t3 = rows[2][1].lower()
    n_grams = len(t3) - WINNOW_K + 1
    pos3 = sorted(r["pos"] for r in fps if r["doc_id"] == 3)
    for start in range(1, n_grams - WINNOW_W + 2):
        assert any(start <= p < start + WINNOW_W for p in pos3), start
    # density: selections ~ 2/(w+1) of grams, certainly under half
    assert len(pos3) <= n_grams / 2


# --- d24: candidate threshold sweep ---------------------------------------------


def threshold_sweep_sql() -> str:
    """The d15 estimator at threshold 0 (all LSH candidates) nested as
    a CTE + the exact dyadic-lattice rollup with the descending
    cumulative (what a threshold at each lattice edge keeps)."""
    import __spark_entry__ as E

    return f"""
WITH pairs AS ({E.minhash_estimate_sql(0.0)}),
per AS (SELECT est_jaccard, count(*) AS n_pairs FROM pairs GROUP BY 1)
SELECT est_jaccard,
       n_pairs::BIGINT AS n_pairs,
       round(n_pairs / sum(n_pairs) OVER (), 6) AS frac_pairs,
       sum(n_pairs) OVER (ORDER BY est_jaccard DESC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
         AS cum_pairs_at_or_above
FROM per
"""


def test_oracle_draft_threshold_sweep(spark, ddb):
    from datacatalog_tag_engine_spark.pipeline import dedup as DD

    got = _rows(DD.candidate_threshold_sweep(spark.table("documents")))
    want = _sql_rows(ddb, threshold_sweep_sql())
    assert got == want
    assert len(got) > 1


def test_threshold_sweep_prices_the_threshold(spark):
    """The cumulative column IS the pair mass d15 keeps at each
    threshold: for every lattice value v, cum(v) equals a real
    minhash_estimate_pairs run at threshold v (the table is evidence,
    not approximation), fracs sum to 1, and the lattice is dyadic."""
    from pyspark.sql import functions as F

    from datacatalog_tag_engine_spark.pipeline import dedup as DD

    docs = spark.table("documents")
    rows = DD.candidate_threshold_sweep(docs).collect()
    assert abs(sum(r["frac_pairs"] for r in rows) - 1.0) < 1e-4
    for r in rows:
        assert abs(r["est_jaccard"] * 8 - round(r["est_jaccard"] * 8)) < 1e-9
    for r in rows:
        real = DD.minhash_estimate_pairs(docs, threshold=r["est_jaccard"]).count()
        assert real == r["cum_pairs_at_or_above"], r


# --- q101: shard skew profile ---------------------------------------------------


def shard_skew_sql(num_shards: int = 16) -> str:
    """Manifest = the q58 md5-bucket rule at 16 shards; profile =
    exact percentiles (quantile_cont == percentile, the q74 rule) +
    the integer micro max/mean ratio."""
    bucket = (
        "(('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % "
        + str(num_shards)
        + ")"
    )
    return f"""
WITH b AS (SELECT {bucket} AS shard FROM documents),
m AS (SELECT shard, count(*) AS n_docs FROM b GROUP BY shard)
SELECT count(*)::BIGINT AS n_shards,
       min(n_docs)::BIGINT AS min_docs,
       round(quantile_cont(n_docs, 0.5), 2) AS p50_docs,
       round(quantile_cont(n_docs, 0.9), 2) AS p90_docs,
       max(n_docs)::BIGINT AS max_docs,
       round(max(n_docs) / avg(n_docs) * 1e6)::BIGINT AS max_over_mean_micro
FROM m
"""


def test_oracle_draft_shard_skew(spark, ddb):
    from pyspark.sql import functions as F

    from datacatalog_tag_engine_spark.pipeline.export import shard_skew_profile
    from datacatalog_tag_engine_spark.pipeline.sampling import hash_bucket

    docs = spark.table("documents")
    manifest = (
        docs.select(hash_bucket(F.col("doc_id"), 16).alias("shard"))
        .groupBy("shard")
        .agg(F.count("*").alias("n_docs"))
    )
    got = _rows(shard_skew_profile(manifest))
    want = _sql_rows(ddb, shard_skew_sql(16))
    assert got == want
    assert len(got) == 1


def test_shard_skew_flags_the_straggler(spark):
    """A constructed manifest with one 10x shard: the ratio column
    reads the skew exactly; a perfectly balanced manifest reads 1.0
    (1e6 micro)."""
    from datacatalog_tag_engine_spark.pipeline.export import shard_skew_profile

    flat = spark.createDataFrame(
        [(i, 100) for i in range(8)], "shard int, n_docs long"
    )
    r = shard_skew_profile(flat).first()
    assert r["max_over_mean_micro"] == 1_000_000
    assert r["p50_docs"] == 100.0 and r["max_docs"] == 100
    skewed = spark.createDataFrame(
        [(i, 100) for i in range(7)] + [(7, 1000)], "shard int, n_docs long"
    )
    s = shard_skew_profile(skewed).first()
    # mean = (700 + 1000) / 8 = 212.5; 1000/212.5 ~ 4.7059
    assert s["max_over_mean_micro"] == round(1000 / 212.5 * 1e6)
    assert s["max_docs"] == 1000 and s["min_docs"] == 100


# --- d25: winnowing overlap pairs -----------------------------------------------


def winnowing_overlap_sql(winnow_sql: str, max_df: int = 1000, min_shared: int = 2) -> str:
    """The t43 winnowing derivation nested as a CTE (one copy of the
    selection), distinct (doc, fp), the hot-fingerprint cap, the
    bucketed pair join, containment-style overlap. Sizes are counted
    AFTER the hot-fingerprint cap — numerator and denominator share
    one fingerprint universe (the r12 ADVICE fix), so a
    boilerplate-heavy contained copy still scores ~1.0."""
    return f"""
WITH wf AS ({winnow_sql}),
dfp AS (SELECT DISTINCT doc_id, fp FROM wf),
kept AS (
  SELECT doc_id, fp FROM dfp
  WHERE fp NOT IN (SELECT fp FROM dfp GROUP BY fp HAVING count(*) > {max_df})),
sizes AS (SELECT doc_id, count(*) AS n FROM kept GROUP BY doc_id),
shared AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
  FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
  GROUP BY 1, 2 HAVING count(*) >= {min_shared})
SELECT s.doc_a, s.doc_b, s.n_shared::BIGINT AS n_shared,
       round(s.n_shared / least(sa.n, sb.n), 4) AS overlap
FROM shared s
JOIN sizes sa ON sa.doc_id = s.doc_a
JOIN sizes sb ON sb.doc_id = s.doc_b
"""


def test_oracle_draft_winnowing_overlap(spark, ddb):
    got = _rows(DD.winnowing_overlap_pairs(spark.table("documents")))
    want = _sql_rows(ddb, winnowing_overlap_sql(winnowing_sql()))
    assert got == want
    assert len(got) > 0


def test_winnowing_overlap_finds_contained_copy(spark):
    """The contract minhash can't give: a short doc pasted verbatim
    into a much longer unrelated doc scores overlap ~1.0 here while
    its whole-document Jaccard is far below any dedup threshold; and
    unrelated docs share nothing. The hot-fp cap drops a fingerprint
    shared by every doc (boilerplate) without touching real overlap."""
    import random

    rng = random.Random(3)
    words = lambda n, tag: " ".join(f"{tag}{rng.randrange(10**6)}" for _ in range(n))
    short = "the exact same paragraph of text appears in both documents verbatim"
    rows = [
        (1, short),
        (2, words(150, "w") + " " + short + " " + words(150, "v")),
        (3, words(120, "x")),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {(r["doc_a"], r["doc_b"]): r for r in DD.winnowing_overlap_pairs(docs).collect()}
    assert (1, 2) in pairs and pairs[(1, 2)]["overlap"] >= 0.9
    assert not any(3 in p for p in pairs)
    # whole-document minhash estimate would NOT flag the pair
    est = {
        (r["doc_a"], r["doc_b"]): r["est_jaccard"]
        for r in DD.minhash_estimate_pairs(docs, threshold=0.0).collect()
    }
    assert est.get((1, 2), 0.0) < 0.5
    # boilerplate cap: a fingerprint in EVERY doc is dropped at
    # max_df=1; doc pair (1,2)'s genuine overlap survives via its
    # other shared fingerprints
    boiler = [(i, short + f" unique tail {words(80, f'u{i}')}") for i in range(10, 16)]
    bdocs = spark.createDataFrame(boiler, "doc_id long, text string")
    capped = DD.winnowing_overlap_pairs(bdocs, max_df=3, min_shared=1).collect()
    uncapped = DD.winnowing_overlap_pairs(bdocs, max_df=None, min_shared=1).collect()
    assert len(uncapped) >= len(capped)


# --- d26: cluster purity --------------------------------------------------------


def cluster_purity_sql(q34_sql: str) -> str:
    """The wired q34 cluster chain nested (the q88 surgery pattern) +
    documents join + per-cluster majority window."""
    tail = "SELECT doc_id, cluster_id FROM clusters"
    assert q34_sql.count(tail) == 1
    return q34_sql.replace(
        tail,
        """, j AS (
  SELECT c.cluster_id, d.source FROM clusters c JOIN documents d USING (doc_id)),
per AS (SELECT cluster_id, source, count(*) AS _n FROM j GROUP BY 1, 2),
tot AS (SELECT cluster_id, sum(_n) AS n_docs, count(*) AS n_sources
        FROM per GROUP BY cluster_id),
top AS (
  SELECT cluster_id, source AS majority_source, _n AS _top_n FROM (
    SELECT cluster_id, source, _n,
           row_number() OVER (PARTITION BY cluster_id
                              ORDER BY _n DESC, source) AS _rn
    FROM per) WHERE _rn = 1)
SELECT t.cluster_id, t.n_docs::BIGINT AS n_docs,
       t.n_sources::BIGINT AS n_sources, top.majority_source,
       round(top._top_n / t.n_docs, 4) AS majority_share
FROM tot t JOIN top USING (cluster_id)""",
    )


def test_oracle_draft_cluster_purity(spark, ddb):
    docs = spark.table("documents")
    clusters = DD.neardup_clusters(docs, DD.minhash_dedup(docs))
    got = _rows(DD.cluster_purity(docs, clusters))
    want = _sql_rows(ddb, cluster_purity_sql(E.oracle_sql()["q34_dedup_clusters"]))
    assert got == want
    assert len(got) > 1


def test_cluster_purity_flags_cross_source_mirrors(spark):
    """A cluster of one source is pure (share 1.0); a mirror cluster
    (same text, two sources) reads n_sources 2 with the deterministic
    majority tie-break (count desc, source asc); shares always sum
    consistent with n_docs."""
    text = " ".join(f"tok{i}" for i in range(30))
    rows = [
        (1, "orig", text), (2, "mirror", text),           # cross-source pair
        (10, "orig", "first pure cluster body " * 5),
        (11, "orig", "first pure cluster body " * 5),
        (20, "solo", "a singleton document all alone here"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    clusters = DD.neardup_clusters(docs, DD.minhash_dedup(docs))
    out = {r["cluster_id"]: r for r in DD.cluster_purity(docs, clusters).collect()}
    assert out[1]["n_sources"] == 2 and out[1]["majority_share"] == 0.5
    assert out[1]["majority_source"] == "mirror"  # tie -> source asc
    assert out[10]["n_sources"] == 1 and out[10]["majority_share"] == 1.0
    assert out[20]["n_docs"] == 1 and out[20]["majority_share"] == 1.0


# --- s33: recall from a persisted index -----------------------------------------


def test_oracle_draft_recall_from_index(spark, ddb, tmp_path):
    """Fresh-index identity: serving recall measured off the persisted
    index replays the s05 oracle verbatim (stored assignment == ranked
    assignment) AND equals the in-memory s05 computation — the serving
    QA row that runs after lifecycle maintenance."""
    from pyspark.sql import functions as F

    from datacatalog_tag_engine_spark.pipeline import similarity as SIM

    emb = spark.table("embeddings")
    p = str(tmp_path / "ivf_recall")
    SIM.build_ivf_index(emb, p, num_cells=8)
    qs = emb.filter(F.col("vec_id") < 5)

    def recall(approx):
        exact = SIM.brute_force_topk(emb, qs, k=5).select("query_id", "neighbor_id")
        hits = approx.select("query_id", "neighbor_id").withColumn("_hit", F.lit(1))
        return (
            exact.join(hits, ["query_id", "neighbor_id"], "left")
            .groupBy("query_id")
            .agg(
                F.count("*").alias("k"),
                F.coalesce(F.sum("_hit"), F.lit(0)).alias("n_matched"),
            )
            .select(
                "query_id",
                "n_matched",
                F.round(F.col("n_matched") / F.col("k"), 4).alias("recall_at_5"),
            )
        )

    got = _rows(recall(SIM.ivf_topk_from_index(spark, p, qs, k=5, nprobe=1)))
    want = _sql_rows(ddb, E.oracle_sql()["s05_ann_recall"])
    assert got == want
    live = _rows(recall(SIM.ivf_topk(emb, qs, k=5, num_cells=8)))
    assert got == live


def test_recall_from_index_after_delete_stays_measurable(spark, tmp_path):
    """The maintenance-loop property: after a delete, recall against
    the SURVIVOR ground truth is still perfect wherever the probed
    cell holds the true neighbors — the QA number an operator checks
    after s22-style maintenance (ground truth recomputed over the
    post-delete corpus, the rebuild identity)."""
    from pyspark.sql import functions as F

    from datacatalog_tag_engine_spark.pipeline import similarity as SIM

    emb = spark.table("embeddings")
    p = str(tmp_path / "ivf_recall_del")
    SIM.build_ivf_index(emb, p, num_cells=8)
    SIM.remove_from_ivf_index(
        spark, p, emb.filter("vec_id >= 100 and vec_id < 300").select("vec_id")
    )
    survivors = emb.filter("vec_id < 100 or vec_id >= 300")
    qs = survivors.filter(F.col("vec_id") < 5)
    exact = SIM.brute_force_topk(survivors, qs, k=5).select("query_id", "neighbor_id")
    approx = (
        SIM.ivf_topk_from_index(spark, p, qs, k=5, nprobe=8)
        .select("query_id", "neighbor_id")
        .withColumn("_hit", F.lit(1))
    )
    rec = (
        exact.join(approx, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(F.coalesce(F.sum("_hit"), F.lit(0)).alias("n_matched"), F.count("*").alias("k"))
    )
    # nprobe == num_cells on the post-delete index == exact over survivors
    for r in rec.collect():
        assert r["n_matched"] == r["k"], r


# --- q102: sigstore ingest replay (the streaming daily-dedup loop) ---------------


# q102's wired oracle since the r13 rotation (one copy; its MATERIALIZED
# hints keep DuckDB from re-deriving each stage once per reference)
sigstore_replay_sql = E.sigstore_replay_sql


def test_oracle_draft_sigstore_replay(spark, ddb, tmp_path):
    """The replay of three sequential crawl drops through the actual
    store-backed ingest function equals the unrolled relational
    derivation — the driver-row proof for the streaming daily-dedup
    loop (its stream==replay parity is pinned in test_streaming.py)."""
    from pyspark.sql import functions as F

    from datacatalog_tag_engine_spark.pipeline.dedup import build_signature_store
    from datacatalog_tag_engine_spark.streaming.dedup import sigstore_ingest_replay

    docs = spark.table("documents").select("doc_id", "text")
    resident = docs.filter(F.col("doc_id") % 4 == 0)
    batches = [docs.filter(F.col("doc_id") % 4 == i) for i in (1, 2, 3)]
    store = str(tmp_path / "store")
    build_signature_store(resident, store)
    out = sigstore_ingest_replay(
        spark, store, batches, str(tmp_path / "accepted")
    ).select(F.col("batch").cast("int").alias("batch"), "doc_id")
    got = _rows(out)
    want = _sql_rows(ddb, sigstore_replay_sql())
    assert got == want
    assert len(got) > 0
    # the loop actually adjudicated: not every delta doc was accepted
    n_delta = docs.filter(F.col("doc_id") % 4 != 0).count()
    assert len(got) < n_delta
