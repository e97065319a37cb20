"""Round-8 corpus-audit operators: code-vs-prose detection (j110),
benchmark-contamination span measurement (j111), and per-source
unigram KL drift (j112).

Design notes shared by the family:

- j110 follows the synthesize-the-input pattern (j98/j100/a27): the
  fixture text has no newlines/braces, so a deterministic code-shaped
  transform is applied to a doc_id-selected slice IN BOTH ENGINES,
  and the detector's line/symbol signals are proven on that staged
  corpus. All decisions are integer comparisons; the single float is
  one rounded division at the end.
- j111 upgrades j23's boolean contamination flag to SPAN measurement
  (the j93 gaps-and-islands machinery on token-gram hits): the number
  you need to choose between doc-drop and span-removal (j58).
- j112 quantizes ln() to BIGINT fixed-point BEFORE the sums (j106's
  trick), so the KL numerator is an exact order-free integer.
- All randomness-free and rerun-identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from json2hbase_spark.io import load, widen
from json2hbase_spark.operators.text import whitespace_tokens
from json2hbase_spark.plans.corpus_queries import (
    MIX_ALPHA,
    QLR_B,
    QLR_W_AVGLEN,
    QLR_W_DIGIT,
    QLR_W_LEN,
    QLR_W_STOP,
)
from json2hbase_spark.registry import query

# ---------------------------------------------------------------- j110

NL = "\n"


@query(
    "j110_code_detect",
    oracle=f"""
    WITH staged AS (
      SELECT doc_id, source,
             CASE
               WHEN doc_id % 7 = 0 THEN
                 'def run() {{' || chr(10) ||
                 '    x = 1;' || chr(10) ||
                 '    ' || replace(substr(text, 1, 120), ' ', '_') || ';'
                 || chr(10) ||
                 '    return x;' || chr(10) || '}}'
               WHEN doc_id % 7 = 3 THEN
                 text || chr(10) || '    y = 2;'
               ELSE text
             END AS t2
      FROM documents
    ),
    sig AS (
      SELECT doc_id, source, t2,
             len(string_split(t2, chr(10))) AS n_lines,
             len(list_filter(string_split(t2, chr(10)),
                             l -> l LIKE '%;')) AS n_semi,
             len(list_filter(string_split(t2, chr(10)),
                             l -> l LIKE '    %')) AS n_indent,
             (len(t2) - len(replace(t2, '{{', '')))
               + (len(t2) - len(replace(t2, '}}', ''))) AS n_brace
      FROM staged
    ),
    verdicts AS (
      SELECT source,
             CASE WHEN 2 * n_semi >= n_lines AND n_brace > 0 THEN 'code'
                  WHEN n_semi > 0 THEN 'mixed'
                  ELSE 'prose' END AS verdict,
             n_lines, n_semi, n_indent, n_brace
      FROM sig
    )
    SELECT source, verdict,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_lines) AS BIGINT) AS sum_lines,
           CAST(SUM(n_semi) AS BIGINT) AS sum_semi,
           CAST(SUM(n_indent) AS BIGINT) AS sum_indent,
           CAST(SUM(n_brace) AS BIGINT) AS sum_brace,
           round(CAST(SUM(n_semi) AS DOUBLE) / SUM(n_lines), 4)
             AS code_line_frac
    FROM verdicts
    GROUP BY source, verdict
    """,
)
def j110_code_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Code-vs-prose detection — the modality classifier every LLM
    curation pipeline runs before routing text to code-specific
    filters (code wants different dedup grain, quality signals, and
    mixture weight than prose). Signals are line-structural: lines
    ending in ';', 4-space-indented lines, brace count — classified by
    integer rules (code: ≥half the lines are statements AND braces
    present; mixed: any statement line; else prose), rolled up per
    (source, verdict). The fixture corpus has no line structure, so a
    deterministic code-shaped transform stages a doc_id-selected slice
    first (j98/j100's synthesize-the-input pattern, identical string
    ops in both engines) — the detector is proven on known-planted
    structure, per-doc variation riding on each doc's own text.

    Plan: one codegen'd map pass (split + filters + replaces — no
    UDF, no explode: the per-line tests run as array HOFs inside the
    row) into ONE partial-combined hash agg on (source, verdict). At
    100 TB this is scan-bound with a bounded-cardinality shuffle —
    the cheapest possible shape."""
    docs = load(spark, sf_dir, "documents")
    code_form = F.concat(
        F.lit("def run() {" + NL + "    x = 1;" + NL + "    "),
        F.regexp_replace(F.substring("text", 1, 120), " ", "_"),
        F.lit(";" + NL + "    return x;" + NL + "}"),
    )
    mixed_form = F.concat(F.col("text"), F.lit(NL + "    y = 2;"))
    t2 = (
        F.when(F.col("doc_id") % 7 == 0, code_form)
        .when(F.col("doc_id") % 7 == 3, mixed_form)
        .otherwise(F.col("text"))
    )
    staged = docs.select("doc_id", "source", t2.alias("t2"))
    lines = F.split("t2", NL)
    n_semi = F.size(F.filter(lines, lambda line: line.endswith(";")))
    n_brace = (
        F.length("t2") - F.length(F.regexp_replace("t2", r"\{", ""))
    ) + (F.length("t2") - F.length(F.regexp_replace("t2", r"\}", "")))
    sig = staged.select(
        "source",
        F.size(lines).alias("n_lines"),
        n_semi.alias("n_semi"),
        F.size(F.filter(lines, lambda line: line.startswith("    "))).alias(
            "n_indent"
        ),
        n_brace.alias("n_brace"),
    )
    verdict = (
        F.when((2 * F.col("n_semi") >= F.col("n_lines")) & (F.col("n_brace") > 0), "code")
        .when(F.col("n_semi") > 0, "mixed")
        .otherwise("prose")
    )
    return (
        sig.withColumn("verdict", verdict)
        .groupBy("source", "verdict")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_lines").cast("bigint").alias("sum_lines"),
            F.sum("n_semi").cast("bigint").alias("sum_semi"),
            F.sum("n_indent").cast("bigint").alias("sum_indent"),
            F.sum("n_brace").cast("bigint").alias("sum_brace"),
            F.round(
                F.sum("n_semi").cast("double") / F.sum("n_lines"), 4
            ).alias("code_line_frac"),
        )
    )


# ---------------------------------------------------------------- j111

CONTAM_GRAM = 8  # token-gram width for the contamination test
BENCH_CUT = 10  # doc_id < BENCH_CUT stands in for the benchmark set


@query(
    "j111_contamination_span",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, lang,
             list_filter(string_split(text, ' '), x -> x != '') AS w
      FROM documents
    ),
    base AS (SELECT * FROM toks WHERE len(w) >= {CONTAM_GRAM}),
    pos AS (
      SELECT doc_id, lang, i.i AS i,
             md5(array_to_string(list_slice(w, i.i, i.i + {CONTAM_GRAM} - 1),
                                 ' ')) AS g
      FROM base,
           LATERAL (SELECT unnest(range(1, len(w) - {CONTAM_GRAM} + 2)) AS i) i
    ),
    bench AS (SELECT DISTINCT g FROM pos WHERE doc_id < {BENCH_CUT}),
    flagged AS (
      SELECT p.doc_id, p.lang, p.i FROM pos p JOIN bench b ON b.g = p.g
      WHERE p.doc_id >= {BENCH_CUT}
    ),
    isl AS (
      SELECT doc_id, lang,
             i - row_number() OVER (PARTITION BY doc_id ORDER BY i) AS k
      FROM flagged
    ),
    spans AS (
      SELECT doc_id, lang, k, COUNT(*) + {CONTAM_GRAM} - 1 AS span
      FROM isl GROUP BY 1, 2, 3
    ),
    per_doc AS (
      SELECT doc_id, lang, MAX(span) AS max_span FROM spans GROUP BY 1, 2
    )
    SELECT b.lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(p.max_span) AS BIGINT) AS n_contam,
           CAST(MAX(p.max_span) AS BIGINT) AS max_span_tokens,
           round(CAST(SUM(p.max_span) AS DOUBLE) / COUNT(p.max_span), 4)
             AS avg_max_span
    FROM base b LEFT JOIN per_doc p ON p.doc_id = b.doc_id
    WHERE b.doc_id >= {BENCH_CUT}
    GROUP BY b.lang
    """,
)
def j111_contamination_span(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination SPAN measurement — j23's boolean flag
    upgraded to the number you actually need: HOW MUCH of each corpus
    doc overlaps the eval set. Every {CONTAM_GRAM}-token-gram position
    that matches a benchmark gram is flagged, consecutive flagged
    positions merge into maximal islands (j93's gaps-and-islands
    identity: position − rank is constant inside a run), and an
    island of k positions covers k+{CONTAM_GRAM}−1 tokens — the
    longest contaminated span per doc decides doc-drop (span ≈ doc)
    vs span-removal (j58) vs keep (incidental phrase). Per lang:
    docs, contaminated docs, worst span, mean worst-span.

    Plan: the benchmark gram set is tiny → broadcast semi-flag join
    against the corpus gram stream (j23's shape); islands are one
    per-doc window over FLAGGED positions only (≪ gram stream);
    everything after is bounded hash aggs. At 100 TB the corpus side
    stays a streaming scan + per-doc window — no corpus-wide shuffle
    beyond the flagged subset."""
    docs = load(spark, sf_dir, "documents")
    toks = widen(docs).select(
        "doc_id", "lang", whitespace_tokens(F.col("text")).alias("w")
    )
    base = toks.filter(F.size("w") >= CONTAM_GRAM)
    pos = base.select(
        "doc_id",
        "lang",
        F.explode(F.sequence(F.lit(1), F.size("w") - CONTAM_GRAM + 1)).alias("i"),
        "w",
    ).select(
        "doc_id",
        "lang",
        "i",
        F.md5(F.concat_ws(" ", F.slice("w", F.col("i"), CONTAM_GRAM))).alias("g"),
    )
    bench = pos.filter(F.col("doc_id") < BENCH_CUT).select("g").distinct()
    flagged = (
        pos.filter(F.col("doc_id") >= BENCH_CUT)
        .join(F.broadcast(bench), "g", "left_semi")
        .select("doc_id", "lang", "i")
    )
    wdoc = Window.partitionBy("doc_id").orderBy("i")
    spans = (
        flagged.withColumn("k", F.col("i") - F.row_number().over(wdoc))
        .groupBy("doc_id", "lang", "k")
        .agg((F.count("*") + CONTAM_GRAM - 1).alias("span"))
    )
    per_doc = spans.groupBy("doc_id", "lang").agg(F.max("span").alias("max_span"))
    base_docs = base.filter(F.col("doc_id") >= BENCH_CUT).select("doc_id", "lang")
    return (
        base_docs.join(per_doc.select("doc_id", "max_span"), "doc_id", "left")
        .groupBy("lang")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.count("max_span").cast("bigint").alias("n_contam"),
            F.max("max_span").cast("bigint").alias("max_span_tokens"),
            F.round(
                F.sum("max_span").cast("double") / F.count("max_span"), 4
            ).alias("avg_max_span"),
        )
    )


# ---------------------------------------------------------------- j112

KL_LOG_SCALE = 1_000  # fixed-point quantizer for ln() (j106's constant)


@query(
    "j112_source_unigram_kl",
    oracle=f"""
    WITH toks AS (
      SELECT source,
             unnest(list_filter(string_split(text, ' '), x -> x != '')) AS t
      FROM documents
    ),
    gw AS (SELECT t, COUNT(*) AS n_w FROM toks GROUP BY t),
    sw AS (SELECT source, t, COUNT(*) AS n_sw FROM toks GROUP BY 1, 2),
    ns AS (SELECT source, COUNT(*) AS n_s FROM toks GROUP BY 1),
    ntot AS (SELECT COUNT(*) AS n_tot FROM toks),
    j AS (
      SELECT sw.source, sw.n_sw, ns.n_s,
             CAST(floor(ln(CAST(sw.n_sw AS DOUBLE) * ntot.n_tot
                           / ns.n_s / gw.n_w) * {KL_LOG_SCALE}) AS BIGINT) AS q
      FROM sw JOIN gw USING (t) JOIN ns USING (source), ntot
    )
    SELECT source,
           CAST(MIN(n_s) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_types,
           CAST(SUM(n_sw * q) AS BIGINT) AS kl_num,
           round(CAST(SUM(n_sw * q) AS DOUBLE) / MIN(n_s) / {KL_LOG_SCALE}, 6)
             AS kl
    FROM j GROUP BY source
    """,
)
def j112_source_unigram_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source unigram KL drift — KL(P_source ‖ P_corpus) over each
    source's token distribution vs the whole corpus: the domain-mix
    diagnostic behind DoReMi-style source reweighting and drift
    monitoring (a source whose KL jumps between snapshots changed its
    content mix). Exactness (j106's posture): every ln(p_sw/p_w) is
    quantized to BIGINT fixed-point FIRST, so the KL numerator
    Σ n_sw·q is an exact order-free integer sum — cross-engine hash
    equality despite the doubles inside ln. Floor-quantization biases
    each term down by <1/{KL_LOG_SCALE}, so near-identical
    distributions can read slightly negative — a quantization
    artifact documented here, not a bug (true KL ≥ 0); the ratio
    inside ln is evaluated as ((n_sw·N)/N_s)/n_w in DOUBLE, identical
    operation order in both engines, no int64 product overflow at any
    corpus size.

    Plan: token explode → three hash aggs (word-global, word×source,
    source totals — all map-side combined) + one vocab-keyed equi
    join (j89's justified big-big category: both sides grow with the
    vocabulary) + 1-row total and |sources|-row totals broadcast. At
    100 TB the shuffle is the vocabulary, never the corpus."""
    docs = load(spark, sf_dir, "documents")
    toks = widen(docs).select(
        "source", F.explode(whitespace_tokens(F.col("text"))).alias("t")
    )
    gw = toks.groupBy("t").agg(F.count("*").alias("n_w"))
    sw = toks.groupBy("source", "t").agg(F.count("*").alias("n_sw"))
    ns = toks.groupBy("source").agg(F.count("*").alias("n_s"))
    ntot = toks.agg(F.count("*").alias("n_tot"))
    q = F.floor(
        F.log(
            F.col("n_sw").cast("double")
            * F.col("n_tot")
            / F.col("n_s")
            / F.col("n_w")
        )
        * KL_LOG_SCALE
    ).cast("bigint")
    j = (
        sw.join(gw, "t")
        .join(F.broadcast(ns), "source")
        .crossJoin(F.broadcast(ntot))
        .select("source", "n_sw", "n_s", q.alias("q"))
    )
    return j.groupBy("source").agg(
        F.min("n_s").cast("bigint").alias("n_tokens"),
        F.count("*").cast("bigint").alias("n_types"),
        F.sum(F.col("n_sw") * F.col("q")).cast("bigint").alias("kl_num"),
        F.round(
            F.sum(F.col("n_sw") * F.col("q")).cast("double")
            / F.min("n_s")
            / KL_LOG_SCALE,
            6,
        ).alias("kl"),
    )


# ---------------------------------------------------------------- j113

GATE_THRESHOLDS = [0.5, 1.0, 1.5, 2.0, 2.5, 3.0, 3.5, 4.0, 4.5, 5.0]


@query(
    "j113_quality_threshold_sweep",
    oracle=f"""
    WITH f AS (
      SELECT doc_id,
             len(list_filter(string_split(text, ' '), x -> x != '')) AS n_tok,
             round(ln(1 + len(list_filter(string_split(text, ' '), x -> x != '')))
                   * (1.0 - CAST(len(text) - len(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE)
                            / greatest(len(text), 1))
                   * (0.5 + CAST(len(list_filter(list_filter(string_split(text, ' '), x -> x != ''),
                            t -> list_contains(['the','a','of','and','to','in','is','on','for','with'], t))) AS DOUBLE)
                            / greatest(len(list_filter(string_split(text, ' '), x -> x != '')), 1)),
                   4) AS quality
      FROM documents
    ),
    tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS tot_docs,
             CAST(SUM(n_tok) AS BIGINT) AS tot_tokens
      FROM f
    ),
    sweep AS (
      SELECT t.thr, f.n_tok, f.quality
      FROM f CROSS JOIN (SELECT unnest({GATE_THRESHOLDS!r}) AS thr) t
      WHERE f.quality >= t.thr
    )
    SELECT s.thr,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(s.n_tok) AS BIGINT) AS n_tokens,
           round(CAST(SUM(CAST(s.quality AS DECIMAL(18,4))) AS DOUBLE)
                 / COUNT(*), 4) AS mean_quality,
           round(CAST(COUNT(*) AS DOUBLE) / tot.tot_docs, 4) AS doc_frac,
           round(CAST(SUM(s.n_tok) AS DOUBLE) / tot.tot_tokens, 4)
             AS token_frac
    FROM sweep s, tot
    GROUP BY s.thr, tot.tot_docs, tot.tot_tokens
    """,
)
def j113_quality_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-gate threshold sweep — the calibration table an
    operator reads before setting the corpus quality gate (j35/j91's
    upstream decision): for each candidate threshold, the surviving
    doc count, surviving TOKEN budget (the number training actually
    spends), survivor mean quality, and both survival fractions. j81
    is this table for LSH banding, j59 for label calibration; this
    one answers "what does each gate setting cost in tokens?" in one
    pass. Exactness: quality is the j12 formula already rounded to 4,
    its mean crosses the wire as an exact DECIMAL(18,4) sum
    (functions/exact.py's convention), every other column is integer
    until the final rounded divisions.

    Plan: one scoring map pass fanned out ×{len(GATE_THRESHOLDS)} by
    an in-expression threshold-array explode (broadcast-free: the
    literal rides the projection), filtered and hash-aggregated on
    the threshold — map-side combined, |thresholds| output rows; the
    corpus totals are a 1-row broadcast. At 100 TB: scan-bound, one
    bounded shuffle, fan-out factor is the constant
    {len(GATE_THRESHOLDS)}."""
    docs = load(spark, sf_dir, "documents")
    from json2hbase_spark.operators.text import quality_features, quality_score

    feats = quality_features(F.col("text"))
    quality = quality_score(feats)
    f = widen(docs).select(
        feats["n_tokens"].cast("bigint").alias("n_tok"), quality.alias("quality")
    )
    tot = f.agg(
        F.count("*").cast("bigint").alias("tot_docs"),
        F.sum("n_tok").cast("bigint").alias("tot_tokens"),
    )
    thr = F.explode(F.array(*[F.lit(t) for t in GATE_THRESHOLDS])).alias("thr")
    sweep = f.select("n_tok", "quality", thr).filter(F.col("quality") >= F.col("thr"))
    return (
        sweep.groupBy("thr")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("n_tokens"),
            F.round(
                F.sum(F.col("quality").cast("decimal(18,4)")).cast("double")
                / F.count("*"),
                4,
            ).alias("mean_quality"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "thr",
            "n_docs",
            "n_tokens",
            "mean_quality",
            F.round(F.col("n_docs").cast("double") / F.col("tot_docs"), 4).alias(
                "doc_frac"
            ),
            F.round(F.col("n_tokens").cast("double") / F.col("tot_tokens"), 4).alias(
                "token_frac"
            ),
        )
    )


# ---------------------------------------------------------------- j114

H_GATE = 1.5  # j12-heuristic keep threshold (mid-point of j113's sweep)
# the frozen LR gate is score >= 0.0 (i24/j35's convention)


@query(
    "j114_quality_disagreement",
    oracle=f"""
    WITH f AS (
      SELECT doc_id, source,
             len(list_filter(string_split(text, ' '), x -> x != '')) AS n_tok,
             CAST(len(list_filter(list_filter(string_split(text, ' '), x -> x != ''),
                  t -> list_contains(['the','a','of','and','to','in','is','on','for','with'], t)))
                  AS DOUBLE)
               / greatest(len(list_filter(string_split(text, ' '), x -> x != '')), 1)
               AS stop_ratio,
             CAST(len(text) - len(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE)
               / greatest(len(text), 1) AS digit_ratio,
             CAST(COALESCE(list_aggregate(list_transform(list_filter(string_split(text, ' '),
                    x -> x != ''), t -> len(t)), 'sum'), 0) AS DOUBLE)
               / greatest(len(list_filter(string_split(text, ' '), x -> x != '')), 1)
               AS avg_tok_len
      FROM documents
    ),
    gates AS (
      SELECT source,
             (round(ln(1 + n_tok) * (1.0 - digit_ratio)
                    * (0.5 + stop_ratio), 4) >= {H_GATE}) AS h_keep,
             ({QLR_B} + {QLR_W_LEN} * (CAST(least(n_tok, 100) AS DOUBLE) / 100.0)
                  + {QLR_W_STOP} * stop_ratio
                  + {QLR_W_DIGIT} * digit_ratio
                  + {QLR_W_AVGLEN} * avg_tok_len >= 0.0) AS m_keep
      FROM f
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN h_keep AND m_keep THEN 1 ELSE 0 END) AS BIGINT)
             AS n_both_keep,
           CAST(SUM(CASE WHEN NOT h_keep AND NOT m_keep THEN 1 ELSE 0 END)
                AS BIGINT) AS n_both_drop,
           CAST(SUM(CASE WHEN h_keep AND NOT m_keep THEN 1 ELSE 0 END)
                AS BIGINT) AS n_heuristic_only,
           CAST(SUM(CASE WHEN m_keep AND NOT h_keep THEN 1 ELSE 0 END)
                AS BIGINT) AS n_model_only,
           round(CAST(SUM(CASE WHEN h_keep != m_keep THEN 1 ELSE 0 END)
                      AS DOUBLE) / COUNT(*), 4) AS disagreement_rate
    FROM gates
    GROUP BY source
    """,
)
def j114_quality_disagreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic-vs-model quality-gate disagreement matrix — the audit
    a pipeline runs before SWITCHING quality filters (j12's heuristic
    gate at {H_GATE} vs j55's frozen LR gate at 0.0): per source, the
    2×2 keep/drop confusion and the disagreement rate. The
    disagreement cells ARE the review queue — docs the heuristic
    keeps but the model drops (and vice versa) are exactly where a
    threshold migration silently changes the corpus; a source whose
    disagreement rate spikes gets human eyes before the cutover. Both
    gates are integer/boolean decisions on expressions already proven
    engine-exact (j12 / j55's cross-engine op-order contract).

    Plan: ONE map pass computes both scores from one shared feature
    projection (no UDF) into ONE partial-combined hash agg on source
    — j110's scan-bound shape; at 100 TB this audit is free relative
    to either gate it compares."""
    from json2hbase_spark.operators.text import quality_features, quality_score
    from json2hbase_spark.plans.corpus_queries import quality_lr_score

    docs = load(spark, sf_dir, "documents")
    feats = quality_features(F.col("text"))
    h_quality = quality_score(feats)
    h_keep = h_quality >= H_GATE
    m_keep = quality_lr_score(F.col("text")) >= 0.0
    g = widen(docs).select(
        "source", h_keep.alias("h_keep"), m_keep.alias("m_keep")
    )
    both = F.col("h_keep") & F.col("m_keep")
    neither = ~F.col("h_keep") & ~F.col("m_keep")
    h_only = F.col("h_keep") & ~F.col("m_keep")
    m_only = F.col("m_keep") & ~F.col("h_keep")
    disagree = F.col("h_keep") != F.col("m_keep")
    return g.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(both.cast("int")).cast("bigint").alias("n_both_keep"),
        F.sum(neither.cast("int")).cast("bigint").alias("n_both_drop"),
        F.sum(h_only.cast("int")).cast("bigint").alias("n_heuristic_only"),
        F.sum(m_only.cast("int")).cast("bigint").alias("n_model_only"),
        F.round(
            F.sum(disagree.cast("int")).cast("double") / F.count("*"), 4
        ).alias("disagreement_rate"),
    )


# ---------------------------------------------------------------- j115

SEQ_LEN = 512  # training sequence length (tokens) for the waste audit


@query(
    "j115_packing_waste",
    oracle=f"""
    WITH t AS (
      SELECT lang,
             len(list_filter(string_split(text, ' '), x -> x != '')) AS tokens
      FROM documents
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(tokens) AS BIGINT) AS total_tokens,
           CAST(ceil(CAST(SUM(tokens) AS DOUBLE) / {SEQ_LEN}) AS BIGINT)
             AS concat_sequences,
           CAST(SUM(CAST(ceil(CAST(tokens AS DOUBLE) / {SEQ_LEN}) AS BIGINT))
                AS BIGINT) AS boundary_sequences,
           CAST(SUM(CAST(ceil(CAST(tokens AS DOUBLE) / {SEQ_LEN}) AS BIGINT))
                * {SEQ_LEN} - SUM(tokens) AS BIGINT) AS boundary_waste,
           round(CAST(SUM(CAST(ceil(CAST(tokens AS DOUBLE) / {SEQ_LEN})
                                AS BIGINT)) * {SEQ_LEN} - SUM(tokens) AS DOUBLE)
                 / (SUM(CAST(ceil(CAST(tokens AS DOUBLE) / {SEQ_LEN})
                             AS BIGINT)) * {SEQ_LEN}), 4) AS waste_ratio
    FROM t
    GROUP BY lang
    """,
)
def j115_packing_waste(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packing-waste audit — the number behind the concat-vs-respect-
    boundaries decision every pretraining pipeline makes: packing each
    doc into its own padded {SEQ_LEN}-token sequences wastes
    Σ(ceil(tokens/{SEQ_LEN})·{SEQ_LEN} − tokens) padding tokens, while
    j27's concat-then-chunk wastes only the per-stream tail — per
    lang: docs, real tokens, sequence counts under BOTH conventions,
    the boundary-respecting padding bill, and its waste ratio (the
    fraction of compute spent attending to padding). A corpus of many
    short docs reads 30-50% here, which is why concat packing (with
    its cross-document attention caveat) exists at all. Pure integer
    arithmetic per row; one rounded division at the end.

    Plan: one token-count map pass into ONE partial-combined hash agg
    on lang — j110's scan-bound shape; every column is an aggregate
    of per-row integers, so the shuffle is |langs| rows."""
    docs = load(spark, sf_dir, "documents")
    t = widen(docs).select(
        "lang", F.size(whitespace_tokens(F.col("text"))).alias("tokens")
    )
    per_doc_seqs = F.ceil(F.col("tokens").cast("double") / SEQ_LEN).cast("bigint")
    g = t.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("tokens").cast("bigint").alias("total_tokens"),
        F.sum(per_doc_seqs).cast("bigint").alias("boundary_sequences"),
    )
    boundary_waste = (
        F.col("boundary_sequences") * SEQ_LEN - F.col("total_tokens")
    ).cast("bigint")
    return g.select(
        "lang",
        "n_docs",
        "total_tokens",
        F.ceil(F.col("total_tokens").cast("double") / SEQ_LEN)
        .cast("bigint")
        .alias("concat_sequences"),
        "boundary_sequences",
        boundary_waste.alias("boundary_waste"),
        F.round(
            boundary_waste.cast("double") / (F.col("boundary_sequences") * SEQ_LEN),
            4,
        ).alias("waste_ratio"),
    )


# ---------------------------------------------------------------- j116


@query(
    "j116_contamination_redact",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, lang,
             list_filter(string_split(text, ' '), x -> x != '') AS w
      FROM documents
      WHERE doc_id >= {BENCH_CUT}
    ),
    pos AS (
      SELECT doc_id, lang, i.i AS p, w[i.i] AS token
      FROM toks, LATERAL (SELECT unnest(range(1, len(w) + 1)) AS i) i
    ),
    grams AS (
      SELECT t.doc_id, i.i AS g_start,
             md5(array_to_string(list_slice(t.w, i.i, i.i + {CONTAM_GRAM} - 1),
                                 ' ')) AS g
      FROM toks t,
           LATERAL (SELECT unnest(range(1, len(t.w) - {CONTAM_GRAM} + 2)) AS i) i
      WHERE len(t.w) >= {CONTAM_GRAM}
    ),
    bench AS (
      SELECT DISTINCT md5(array_to_string(list_slice(w, i.i,
                                                     i.i + {CONTAM_GRAM} - 1),
                                          ' ')) AS g
      FROM (SELECT list_filter(string_split(text, ' '), x -> x != '') AS w
            FROM documents WHERE doc_id < {BENCH_CUT}) b,
           LATERAL (SELECT unnest(range(1, len(b.w) - {CONTAM_GRAM} + 2)) AS i) i
      WHERE len(b.w) >= {CONTAM_GRAM}
    ),
    covered AS (
      SELECT DISTINCT gr.doc_id, c.c AS p
      FROM grams gr JOIN bench be ON be.g = gr.g,
           LATERAL (SELECT unnest(range(gr.g_start,
                                        gr.g_start + {CONTAM_GRAM})) AS c) c
    ),
    kept AS (
      SELECT p.doc_id, p.lang, p.p, p.token
      FROM pos p LEFT JOIN covered c ON c.doc_id = p.doc_id AND c.p = p.p
      WHERE c.p IS NULL
    ),
    per_doc AS (
      SELECT t.doc_id, t.lang,
             len(t.w) AS n_before,
             COALESCE(k.n_after, 0) AS n_after,
             COALESCE(k.clean, '') AS clean
      FROM toks t
      LEFT JOIN (SELECT doc_id, COUNT(*) AS n_after,
                        string_agg(token, ' ' ORDER BY p) AS clean
                 FROM kept GROUP BY doc_id) k
        ON k.doc_id = t.doc_id
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN n_after < n_before THEN 1 ELSE 0 END) AS BIGINT)
             AS n_redacted,
           CAST(SUM(n_before) AS BIGINT) AS tokens_before,
           CAST(SUM(n_after) AS BIGINT) AS tokens_after,
           CAST(SUM(n_before - n_after) AS BIGINT) AS tokens_removed,
           MIN(md5(clean)) AS min_clean_md5
    FROM per_doc
    GROUP BY lang
    """,
)
def j116_contamination_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contamination REMOVAL — the apply step after j111's
    measurement (the j58-for-contamination): every corpus token
    covered by a benchmark-matching {CONTAM_GRAM}-gram is cut, the
    document is reconstructed from the surviving tokens in position
    order, and the per-lang report carries the exact token budget
    spent (before/after/removed) plus a min(md5(clean)) byte-proof
    that BOTH engines rebuilt identical texts — removal correctness
    is proven at the byte level, not just counted (j100/j104's
    convention). Span-level removal keeps the surrounding document —
    the middle option j111's span report exists to justify (doc-drop
    wastes the clean 95%, keep leaks the benchmark).

    Plan: the benchmark gram set broadcasts onto the corpus gram
    stream (j111's shape); covered positions explode from matched
    gram starts only (≪ corpus); the keep-filter is a position
    anti-join; reconstruction is one per-doc ordered string_agg —
    Spark side as array_join over a sorted collect_list struct, the
    in-group sort bounded by doc length (j104's reconstruction). At
    100 TB everything but the per-doc regroup rides the scan, and
    the regroup is the same shuffle any per-doc transform pays."""
    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") >= BENCH_CUT)
    toks = widen(docs).select(
        "doc_id", "lang", whitespace_tokens(F.col("text")).alias("w")
    )
    pos = toks.select(
        "doc_id", "lang", F.posexplode("w").alias("p0", "token")
    ).select("doc_id", "lang", (F.col("p0") + 1).alias("p"), "token")
    gsrc = toks.filter(F.size("w") >= CONTAM_GRAM)
    grams = gsrc.select(
        "doc_id",
        F.explode(F.sequence(F.lit(1), F.size("w") - CONTAM_GRAM + 1)).alias(
            "g_start"
        ),
        "w",
    ).select(
        "doc_id",
        "g_start",
        F.md5(F.concat_ws(" ", F.slice("w", F.col("g_start"), CONTAM_GRAM))).alias(
            "g"
        ),
    )
    bench_docs = load(spark, sf_dir, "documents").filter(
        F.col("doc_id") < BENCH_CUT
    )
    bw = bench_docs.select(whitespace_tokens(F.col("text")).alias("w")).filter(
        F.size("w") >= CONTAM_GRAM
    )
    bench = (
        bw.select(
            F.explode(F.sequence(F.lit(1), F.size("w") - CONTAM_GRAM + 1)).alias(
                "i"
            ),
            "w",
        )
        .select(
            F.md5(F.concat_ws(" ", F.slice("w", F.col("i"), CONTAM_GRAM))).alias("g")
        )
        .distinct()
    )
    covered = (
        grams.join(F.broadcast(bench), "g", "left_semi")
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.col("g_start"), F.col("g_start") + CONTAM_GRAM - 1)
            ).alias("p"),
        )
        .distinct()
    )
    kept = pos.join(covered, ["doc_id", "p"], "left_anti")
    k = kept.groupBy("doc_id").agg(
        F.count("*").alias("n_after"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("p", "token"))),
                lambda x: x["token"],
            ),
            " ",
        ).alias("clean"),
    )
    per_doc = (
        toks.select("doc_id", "lang", F.size("w").alias("n_before"))
        .join(k, "doc_id", "left")
        .select(
            "lang",
            "n_before",
            F.coalesce("n_after", F.lit(0)).alias("n_after"),
            F.coalesce("clean", F.lit("")).alias("clean"),
        )
    )
    return per_doc.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum((F.col("n_after") < F.col("n_before")).cast("int"))
        .cast("bigint")
        .alias("n_redacted"),
        F.sum("n_before").cast("bigint").alias("tokens_before"),
        F.sum("n_after").cast("bigint").alias("tokens_after"),
        F.sum(F.col("n_before") - F.col("n_after"))
        .cast("bigint")
        .alias("tokens_removed"),
        F.min(F.md5("clean")).alias("min_clean_md5"),
    )


# ---------------------------------------------------------------- j118


# first-fit position in the running bin-load list; DuckDB's
# list_position returns **0** (not NULL) when nothing matches, so the
# no-fit branch tests = 0. The in-place bin update uses the indexed
# two-arg lambda, NOT list slicing: a slice bound that can go negative
# (loads[1:pos-1] at pos=0) means "from the end" in DuckDB and makes
# the state list GROW ~2x per iteration — a silent exponential blowup
# inside the recursion (found the hard way in round 9).
_FFD_POS = (
    "list_position(list_transform(f.loads, q -> q + o.tokens <= {cap}), true)"
)

_DUCK_FFD = f"""
    WITH RECURSIVE t AS (
      SELECT lang, doc_id,
             len(list_filter(string_split(text, ' '), x -> x != '')) AS tokens
      FROM documents
    ),
    ord AS (
      SELECT lang, doc_id, tokens,
             row_number() OVER (PARTITION BY lang ORDER BY tokens DESC, doc_id)
               AS rn
      FROM t
    ),
    n AS (SELECT lang, CAST(max(rn) AS BIGINT) AS n FROM ord GROUP BY lang),
    ffd(lang, rn, loads, bins) AS (
      SELECT o.lang, CAST(1 AS BIGINT), [CAST(o.tokens AS BIGINT)],
             [CAST(1 AS BIGINT)]
      FROM ord o WHERE o.rn = 1
      UNION ALL
      SELECT f.lang, f.rn + 1,
             CASE WHEN {_FFD_POS.format(cap=SEQ_LEN)} = 0
                  THEN list_append(f.loads, CAST(o.tokens AS BIGINT))
                  ELSE list_transform(
                         f.loads,
                         (l, i) -> CASE WHEN i = {_FFD_POS.format(cap=SEQ_LEN)}
                                        THEN l + o.tokens ELSE l END) END,
             list_append(f.bins,
                         CAST(CASE WHEN {_FFD_POS.format(cap=SEQ_LEN)} = 0
                                   THEN len(f.loads) + 1
                                   ELSE {_FFD_POS.format(cap=SEQ_LEN)}
                              END AS BIGINT))
      FROM ffd f
      JOIN ord o ON o.lang = f.lang AND o.rn = f.rn + 1
    ),
    last AS (
      SELECT f.lang AS lang, f.bins AS bins
      FROM ffd f JOIN n ON n.lang = f.lang AND f.rn = n.n
    ),
    asg AS (
      SELECT lang, unnest(bins) AS bin_id, generate_subscripts(bins, 1) AS rn
      FROM last
    )
    SELECT a.lang, CAST(a.bin_id AS BIGINT) AS bin_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(o.tokens) AS BIGINT) AS bin_tokens,
           CAST({SEQ_LEN} - SUM(o.tokens) AS BIGINT) AS slack
    FROM asg a JOIN ord o ON o.lang = a.lang AND o.rn = a.rn
    GROUP BY a.lang, a.bin_id
"""


@query("j118_pack_ffd", oracle=_DUCK_FFD)
def j118_pack_ffd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NO-STRADDLE sequence packing — the decision j115's waste audit
    feeds: true first-fit-decreasing bin packing of documents into
    {SEQ_LEN}-token training sequences that respect document
    boundaries (no cross-document attention), per language. j27 is
    the concat-then-chunk convention (docs straddle); j115 prices the
    two conventions; this op PRODUCES the boundary-respecting
    packing: per (lang, bin) the docs packed, tokens used, and slack
    (padding bill). FFD order is the total order (tokens DESC,
    doc_id) — deterministic in both engines; a doc longer than
    {SEQ_LEN} opens its own overflow bin (no fit exists), surfacing
    as negative slack rather than being silently dropped.

    Plan: FFD is inherently sequential (each placement depends on all
    earlier loads), so this is a DECLARED k-family escape hatch: one
    applyInPandas per language group — Arrow-batched, vectorized I/O,
    sequential only within the group. At 100 TB a single language
    does not fit one task; the production form runs the identical
    kernel per bounded shard (lang × size-banded sub-shard, each a
    few hundred MB — packing quality is within ~1% of global FFD
    because FFD's approximation ratio is shard-local, 11/9·OPT+1),
    which changes bin ids but not the audit semantics; the per-lang
    grouping here is what makes the run bit-reproducible against the
    sequential oracle (a recursive-CTE FFD carrying the bin-load
    list as iteration state — fixpoint twin of the pandas loop)."""
    import pandas as pd

    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "lang", "doc_id", F.size(whitespace_tokens(F.col("text"))).alias("tokens")
    )

    def ffd(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values(
            ["tokens", "doc_id"], ascending=[False, True], kind="mergesort"
        )
        loads: list[int] = []
        bins: list[int] = []
        for t in pdf["tokens"]:
            t = int(t)
            for i, l in enumerate(loads):
                if l + t <= SEQ_LEN:
                    loads[i] = l + t
                    bins.append(i + 1)
                    break
            else:
                loads.append(t)
                bins.append(len(loads))
        pdf = pdf.assign(bin_id=bins)
        return pdf[["lang", "bin_id", "tokens"]]

    packed = toks.groupBy("lang").applyInPandas(
        ffd, "lang string, bin_id long, tokens long"
    )
    return packed.groupBy("lang", "bin_id").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("tokens").cast("bigint").alias("bin_tokens"),
        (F.lit(SEQ_LEN) - F.sum("tokens")).cast("bigint").alias("slack"),
    )


# ---------------------------------------------------------------- j125

FFD_BAND_WIDTH = 128  # size-band width (tokens) for the sharded FFD
FFD_BAND_CAP = 4  # bands 0..4; the last one holds everything larger

_DUCK_BAND = f"CAST(least(tokens // {FFD_BAND_WIDTH}, {FFD_BAND_CAP}) AS BIGINT)"

_DUCK_FFD_SHARDED = f"""
    WITH RECURSIVE t AS (
      SELECT lang, doc_id,
             len(list_filter(string_split(text, ' '), x -> x != '')) AS tokens
      FROM documents
    ),
    b AS (SELECT lang, doc_id, tokens, {_DUCK_BAND} AS band FROM t),
    ord AS (
      SELECT lang, band, doc_id, tokens,
             row_number() OVER (PARTITION BY lang, band
                                ORDER BY tokens DESC, doc_id) AS rn
      FROM b
    ),
    n AS (SELECT lang, band, CAST(max(rn) AS BIGINT) AS n
          FROM ord GROUP BY lang, band),
    ffd(lang, band, rn, loads, bins) AS (
      SELECT o.lang, o.band, CAST(1 AS BIGINT), [CAST(o.tokens AS BIGINT)],
             [CAST(1 AS BIGINT)]
      FROM ord o WHERE o.rn = 1
      UNION ALL
      SELECT f.lang, f.band, f.rn + 1,
             CASE WHEN {_FFD_POS.format(cap=SEQ_LEN)} = 0
                  THEN list_append(f.loads, CAST(o.tokens AS BIGINT))
                  ELSE list_transform(
                         f.loads,
                         (l, i) -> CASE WHEN i = {_FFD_POS.format(cap=SEQ_LEN)}
                                        THEN l + o.tokens ELSE l END) END,
             list_append(f.bins,
                         CAST(CASE WHEN {_FFD_POS.format(cap=SEQ_LEN)} = 0
                                   THEN len(f.loads) + 1
                                   ELSE {_FFD_POS.format(cap=SEQ_LEN)}
                              END AS BIGINT))
      FROM ffd f
      JOIN ord o ON o.lang = f.lang AND o.band = f.band AND o.rn = f.rn + 1
    ),
    last AS (
      SELECT f.lang AS lang, f.band AS band, f.bins AS bins
      FROM ffd f JOIN n ON n.lang = f.lang AND n.band = f.band AND f.rn = n.n
    ),
    asg AS (
      SELECT lang, band, unnest(bins) AS bin_id,
             generate_subscripts(bins, 1) AS rn
      FROM last
    )
    SELECT a.lang, a.band, CAST(a.bin_id AS BIGINT) AS bin_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(o.tokens) AS BIGINT) AS bin_tokens,
           CAST({SEQ_LEN} - SUM(o.tokens) AS BIGINT) AS slack
    FROM asg a JOIN ord o
      ON o.lang = a.lang AND o.band = a.band AND o.rn = a.rn
    GROUP BY a.lang, a.band, a.bin_id
"""


@query("j125_pack_ffd_sharded", oracle=_DUCK_FFD_SHARDED)
def j125_pack_ffd_sharded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHARDED no-straddle FFD — j118's documented 100 TB form made
    runnable and measurable: the identical first-fit-decreasing
    kernel runs per (lang, size band) shard (band =
    tokens DIV {FFD_BAND_WIDTH}, capped at {FFD_BAND_CAP}) instead of
    per whole language, which is what an actual cluster does because
    one language does NOT fit one task. FFD's approximation quality
    is shard-local (11/9·OPT + 1 per shard), so the packing bill
    rises only by the per-shard partial bins — the j118-vs-j125 bin
    delta IS the measured price of shardability, pinned by test
    against the Σ(ceil + 1) bound. Same-size docs land in the same
    shard, which is also where FFD packs them together anyway — the
    bands are the natural shard key, not an arbitrary split.

    Plan: identical to j118 with the shard key widened — one
    applyInPandas per (lang, band) group (bounded groups, the
    k-family declared kernel), then the (lang, band, bin) hash agg.
    The oracle widens the recursive-CTE state key the same way."""
    import pandas as pd

    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "lang",
        "doc_id",
        F.size(whitespace_tokens(F.col("text"))).alias("tokens"),
    ).withColumn(
        "band",
        F.least(
            F.expr(f"tokens DIV {FFD_BAND_WIDTH}"), F.lit(FFD_BAND_CAP).cast("bigint")
        ),
    )

    def ffd(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values(
            ["tokens", "doc_id"], ascending=[False, True], kind="mergesort"
        )
        loads: list[int] = []
        bins: list[int] = []
        for t in pdf["tokens"]:
            t = int(t)
            for i, l in enumerate(loads):
                if l + t <= SEQ_LEN:
                    loads[i] = l + t
                    bins.append(i + 1)
                    break
            else:
                loads.append(t)
                bins.append(len(loads))
        pdf = pdf.assign(bin_id=bins)
        return pdf[["lang", "band", "bin_id", "tokens"]]

    packed = toks.groupBy("lang", "band").applyInPandas(
        ffd, "lang string, band long, bin_id long, tokens long"
    )
    return packed.groupBy("lang", "band", "bin_id").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("tokens").cast("bigint").alias("bin_tokens"),
        (F.lit(SEQ_LEN) - F.sum("tokens")).cast("bigint").alias("slack"),
    )


# ---------------------------------------------------------------- j126

SEQLEN_CANDIDATES = [256, 512, 1024, 2048]


@query(
    "j126_seqlen_sweep",
    oracle=f"""
    WITH t AS (
      SELECT lang,
             len(list_filter(string_split(text, ' '), x -> x != '')) AS tokens
      FROM documents
    ),
    sw AS (
      SELECT lang, tokens, L.L AS seq_len
      FROM t CROSS JOIN (SELECT unnest({SEQLEN_CANDIDATES!r}) AS L) L
    )
    SELECT lang, CAST(seq_len AS BIGINT) AS seq_len,
           CAST(SUM(tokens) AS BIGINT) AS total_tokens,
           CAST(ceil(CAST(SUM(tokens) AS DOUBLE) / seq_len) AS BIGINT)
             AS concat_sequences,
           CAST(SUM(CAST(ceil(CAST(tokens AS DOUBLE) / seq_len) AS BIGINT))
                AS BIGINT) AS boundary_sequences,
           CAST(SUM(CAST(ceil(CAST(tokens AS DOUBLE) / seq_len) AS BIGINT))
                * seq_len - SUM(tokens) AS BIGINT) AS boundary_waste,
           round(CAST(SUM(CAST(ceil(CAST(tokens AS DOUBLE) / seq_len)
                                AS BIGINT)) * seq_len - SUM(tokens) AS DOUBLE)
                 / (SUM(CAST(ceil(CAST(tokens AS DOUBLE) / seq_len)
                             AS BIGINT)) * seq_len), 4) AS waste_ratio,
           CAST(SUM(CASE WHEN tokens > seq_len THEN 1 ELSE 0 END) AS BIGINT)
             AS n_oversize
    FROM sw GROUP BY lang, seq_len
    """,
)
def j126_seqlen_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-length CALIBRATION sweep — j115's padding bill fanned
    over the candidate training sequence lengths
    {SEQLEN_CANDIDATES} (j113's sweep posture applied to the packing
    decision): per (lang, seq_len), both sequence counts, the
    boundary-respecting padding bill and its waste ratio, plus the
    docs that would OVERFLOW the length (need truncation/splitting —
    the cost axis j115's single-length audit can't show). Choosing a
    training sequence length trades padding waste (shrinks as L
    drops) against cross-document attention/truncation (grows as L
    drops); this table is the waste side of that trade for every
    candidate in one pass.

    Plan: one token-count map pass fanned ×{len(SEQLEN_CANDIDATES)}
    by an in-expression literal explode (j113's broadcast-free
    shape) into ONE partial-combined hash agg on (lang, seq_len) —
    scan-bound, |langs|·|candidates| output rows, all-integer until
    the final rounded division."""
    docs = load(spark, sf_dir, "documents")
    t = widen(docs).select(
        "lang", F.size(whitespace_tokens(F.col("text"))).alias("tokens")
    )
    sw = t.select(
        "lang",
        "tokens",
        F.explode(
            F.array(*[F.lit(c).cast("long") for c in SEQLEN_CANDIDATES])
        ).alias("seq_len"),
    )
    per_doc_seqs = F.ceil(F.col("tokens").cast("double") / F.col("seq_len")).cast(
        "bigint"
    )
    g = sw.groupBy("lang", "seq_len").agg(
        F.sum("tokens").cast("bigint").alias("total_tokens"),
        F.sum(per_doc_seqs).cast("bigint").alias("boundary_sequences"),
        F.sum(F.when(F.col("tokens") > F.col("seq_len"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_oversize"),
    )
    boundary_waste = (
        F.col("boundary_sequences") * F.col("seq_len") - F.col("total_tokens")
    ).cast("bigint")
    return g.select(
        "lang",
        "seq_len",
        "total_tokens",
        F.ceil(F.col("total_tokens").cast("double") / F.col("seq_len"))
        .cast("bigint")
        .alias("concat_sequences"),
        "boundary_sequences",
        boundary_waste.alias("boundary_waste"),
        F.round(
            boundary_waste.cast("double")
            / (F.col("boundary_sequences") * F.col("seq_len")),
            4,
        ).alias("waste_ratio"),
        "n_oversize",
    )


# ---------------------------------------------------------------- j135

VOCAB_SWEEP = [4, 8, 16, 24, 32]  # candidate vocab sizes (fixture |V| = 31)


@query(
    "j135_vocab_size_sweep",
    oracle=f"""
    WITH toks AS (
      SELECT lang, unnest(list_filter(string_split(text, ' '), x -> x != '')) AS token
      FROM documents
    ),
    cnt AS (SELECT lang, token, CAST(COUNT(*) AS BIGINT) AS c
            FROM toks GROUP BY 1, 2),
    ranked AS (
      SELECT lang, c,
             row_number() OVER (PARTITION BY lang ORDER BY c DESC, token) AS rnk
      FROM cnt
    ),
    ks AS (SELECT unnest({VOCAB_SWEEP}) AS vocab_size)
    SELECT lang, CAST(vocab_size AS INT) AS vocab_size,
           CAST(COUNT(*) AS BIGINT) AS n_types_total,
           CAST(SUM(CASE WHEN rnk <= vocab_size THEN 1 ELSE 0 END) AS BIGINT)
             AS n_types_kept,
           round(CAST(SUM(CASE WHEN rnk <= vocab_size THEN c ELSE 0 END) AS DOUBLE)
                 / SUM(c), 6) AS token_coverage,
           round(CAST(SUM(CASE WHEN rnk <= vocab_size THEN 0 ELSE c END) AS DOUBLE)
                 / SUM(c), 6) AS oov_rate
    FROM ranked, ks GROUP BY lang, vocab_size
    """,
)
def j135_vocab_size_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-size calibration sweep — the j113/j126 sweep posture
    applied to the tokenizer-budget decision j84/j57 measure only at
    one fixed point: for every candidate vocab size K, the per-language
    token coverage (and its complement, the OOV token rate) if the
    vocabulary were the top-K types by frequency. The curve's knee is
    THE input to choosing a tokenizer budget before a 100 TB
    tokenization pass — coverage climbs fast while K is under the
    Zipf head and flattens once K passes into the tail, and the
    per-language rows expose which language pays for a shared budget
    (the fertility inequality j86 measures after the fact).

    Exactness: type counts are exact BIGINTs; the frequency ranking
    tie-breaks on the token string (identical in both engines); the
    two reported rates are single divisions of exact integer sums,
    rounded once. Plan: one token explode + (lang, token) hash agg —
    the shuffle every vocab induction already pays — then a
    |vocab|-per-lang window (bounded by LANGUAGE vocabulary, not
    corpus size: Heaps' law caps it at millions of rows at 100 TB,
    a single executor's work after the count agg) and one ×|sweep|
    fan-out agg. Nothing corpus-sized crosses after the first agg."""
    docs = load(spark, sf_dir, "documents")
    toks = widen(docs).select(
        "lang", F.explode(whitespace_tokens(F.col("text"))).alias("token")
    )
    cnt = toks.groupBy("lang", "token").agg(F.count("*").cast("bigint").alias("c"))
    w = Window.partitionBy("lang").orderBy(F.desc("c"), F.asc("token"))
    ranked = cnt.withColumn("rnk", F.row_number().over(w)).select("lang", "c", "rnk")
    # constant 5-row sweep table: one explode over a literal array
    # (ADVICE r10 — the earlier range(5)×explode+distinct built 25
    # intermediate rows and a distinct exchange for a constant list)
    ks = spark.range(1).select(
        F.explode(F.array(*[F.lit(k) for k in VOCAB_SWEEP])).alias("vocab_size")
    )
    kept = F.when(F.col("rnk") <= F.col("vocab_size"), F.col("c")).otherwise(F.lit(0))
    return (
        ranked.crossJoin(F.broadcast(ks))
        .groupBy("lang", "vocab_size")
        .agg(
            F.count("*").cast("bigint").alias("n_types_total"),
            F.sum(
                F.when(F.col("rnk") <= F.col("vocab_size"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_types_kept"),
            F.sum(kept).alias("_covered"),
            F.sum("c").alias("_total"),
        )
        .select(
            "lang",
            F.col("vocab_size").cast("int").alias("vocab_size"),
            "n_types_total",
            "n_types_kept",
            F.round(F.col("_covered").cast("double") / F.col("_total"), 6).alias(
                "token_coverage"
            ),
            F.round(
                (F.col("_total") - F.col("_covered")).cast("double") / F.col("_total"),
                6,
            ).alias("oov_rate"),
        )
    )


# ---------------------------------------------------------------- j136


# Shared CTE chain (j136/j137): j34's cascade with per-source token
# accounting — normalized text, exact keep-lowest-id, prefix-blocked
# exact-Jaccard near drop, then raw/exact/near token budgets per source.
_DUCK_BUDGET_PARTS = """normed AS (
      SELECT doc_id, source,
             CAST(len(list_filter(string_split(text, ' '), x -> x != '')) AS BIGINT)
               AS n_tokens,
             trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm
      FROM documents
    ),
    s1 AS (
      SELECT doc_id, source, n_tokens, norm FROM (
        SELECT doc_id, source, n_tokens, norm,
               row_number() OVER (PARTITION BY norm ORDER BY doc_id) AS rn
        FROM normed
      ) WHERE rn = 1
    ),
    sh AS (
      SELECT doc_id, substr(norm, 1, 40) AS block,
             list_distinct(list_transform(range(1, greatest(len(norm) - 7, 0) + 1),
                                          i -> substr(norm, i, 8))) AS shingles
      FROM s1 WHERE len(norm) >= 8
    ),
    dropped AS (
      SELECT DISTINCT b.doc_id AS doc_id
      FROM sh a JOIN sh b ON a.block = b.block AND a.doc_id < b.doc_id
      WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
              / (len(a.shingles) + len(b.shingles)
                 - len(list_intersect(a.shingles, b.shingles))) >= 0.3
    ),
    raw AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_tokens) AS BIGINT) AS tokens_raw
      FROM normed GROUP BY source
    ),
    kept AS (
      SELECT s1.source,
             CAST(SUM(s1.n_tokens) AS BIGINT) AS tokens_exact,
             CAST(SUM(CASE WHEN d.doc_id IS NULL THEN s1.n_tokens ELSE 0 END)
                  AS BIGINT) AS tokens_near
      FROM s1 LEFT JOIN dropped d ON d.doc_id = s1.doc_id
      GROUP BY s1.source
    ),
    budgets AS (
      SELECT r.source, r.n_docs, r.tokens_raw, k.tokens_exact, k.tokens_near
      FROM raw r JOIN kept k ON k.source = r.source
    )"""


@query(
    "j136_dedup_token_inflation",
    oracle=f"""
    WITH {_DUCK_BUDGET_PARTS}
    SELECT source, n_docs, tokens_raw, tokens_exact, tokens_near,
           CASE WHEN tokens_exact = 0 THEN NULL
                ELSE round(CAST(tokens_raw AS DOUBLE) / tokens_exact, 4)
           END AS inflation_exact,
           CASE WHEN tokens_near = 0 THEN NULL
                ELSE round(CAST(tokens_raw AS DOUBLE) / tokens_near, 4)
           END AS inflation_near
    FROM budgets
    """,
)
def j136_dedup_token_inflation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget inflation by duplication, per source — the number
    a mixture planner (j19/j36/j64) actually needs from dedup: a
    source's RAW token count overstates its real contribution by
    exactly the tokens the dedup cascade removes, so sampling weights
    computed on raw counts over-sample duplicated sources. Runs j34's
    cascade semantics (exact: keep lowest doc_id per normalized form;
    near: deterministic prefix-blocked exact-Jaccard ≥ 0.3 drops the
    higher id of every pair) and reports per source: docs, raw
    tokens, tokens surviving exact dedup, tokens surviving the full
    cascade, and the two inflation ratios raw/survivor — 1.0 = clean
    source, 2.0 = half this source's apparent budget is copies.

    Exactness: token counts are exact BIGINT sums; the two ratios are
    single divisions rounded once. Plan: j34's shapes unchanged (one
    norm-keyed agg with map-side combine, one blocked self-join on
    the materialized survivor shingle table, never all-pairs) plus
    two source-keyed hash aggs and a |sources|-row join. At 100 TB
    this is the dedup pass the corpus already runs, with the token
    accounting riding the same shuffles — no new corpus-sized stage.
    Swap the blocked verifier for j48's banded MinHash on unblocked
    corpora (same accounting)."""
    # zero-denominator guard (ADVICE r10): a source whose docs are ALL
    # copies of lower-doc_id docs elsewhere has tokens_exact/near = 0;
    # Spark Divide returns NULL there while DuckDB IEEE float division
    # returns inf — the explicit CASE (mirrored in the oracle) pins
    # both engines to NULL.
    def _inflate(denom: str, name: str):
        return F.when(F.col(denom) == 0, F.lit(None).cast("double")).otherwise(
            F.round(F.col("tokens_raw").cast("double") / F.col(denom), 4)
        ).alias(name)

    return _source_token_budgets(spark, sf_dir).select(
        "source",
        "n_docs",
        "tokens_raw",
        "tokens_exact",
        "tokens_near",
        _inflate("tokens_exact", "inflation_exact"),
        _inflate("tokens_near", "inflation_near"),
    )


def _source_token_budgets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared j136/j137 kernel: per-source (n_docs, tokens_raw,
    tokens_exact, tokens_near) under j34's cascade semantics — the
    Spark twin of the _DUCK_BUDGET_PARTS ``budgets`` CTE."""
    from json2hbase_spark.materialize import materialize
    from json2hbase_spark.operators.dedup import (
        block_pairs,
        block_shingles,
        normalize_text,
    )

    docs = load(spark, sf_dir, "documents")
    normed = widen(docs).select(
        "doc_id",
        "source",
        F.size(whitespace_tokens(F.col("text"))).cast("bigint").alias("n_tokens"),
        normalize_text(F.col("text")).alias("norm"),
    )
    # round 13: s1 is consumed TWICE (the shingle table below and the
    # `kept` tally) — unmaterialized, each consumer re-ran the corpus
    # scan + normalize_text + the norm-keyed agg (so the normalize HOF
    # pass executed 3× per kernel call counting `raw`). One checkpoint
    # of the survivor table cuts that to one corpus pass for s1.
    s1 = materialize(
        normed.groupBy("norm").agg(
            F.min("doc_id").alias("doc_id"),
            F.min_by("source", "doc_id").alias("source"),
            F.min_by("n_tokens", "doc_id").alias("n_tokens"),
        )
    )
    dropped = (
        block_pairs(block_shingles(s1), 0.3)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    raw = normed.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("tokens_raw"),
    )
    kept = (
        s1.join(F.broadcast(dropped), "doc_id", "left")
        .groupBy("source")
        .agg(
            F.sum("n_tokens").cast("bigint").alias("tokens_exact"),
            F.sum(F.when(F.col("_hit").isNull(), F.col("n_tokens")).otherwise(0))
            .cast("bigint")
            .alias("tokens_near"),
        )
    )
    return raw.join(kept, "source").select(
        "source", "n_docs", "tokens_raw", "tokens_exact", "tokens_near"
    )


# ---------------------------------------------------------------- j137


@query(
    "j137_corrected_mixture",
    oracle=f"""
    WITH {_DUCK_BUDGET_PARTS},
    zs AS (
      SELECT SUM(pow(CAST(tokens_raw AS DOUBLE), {MIX_ALPHA})) AS z_raw,
             SUM(pow(CAST(tokens_near AS DOUBLE), {MIX_ALPHA})) AS z_near
      FROM budgets
    )
    SELECT b.source, b.tokens_raw, b.tokens_near,
           round(pow(CAST(b.tokens_raw AS DOUBLE), {MIX_ALPHA}) / z.z_raw, 6)
             AS w_raw,
           round(pow(CAST(b.tokens_near AS DOUBLE), {MIX_ALPHA}) / z.z_near, 6)
             AS w_corrected,
           CASE WHEN round(pow(CAST(b.tokens_near AS DOUBLE), {MIX_ALPHA})
                           / z.z_near, 6) = 0 THEN NULL
                ELSE round(round(pow(CAST(b.tokens_raw AS DOUBLE), {MIX_ALPHA})
                                 / z.z_raw, 6)
                           / round(pow(CAST(b.tokens_near AS DOUBLE), {MIX_ALPHA})
                                   / z.z_near, 6),
                           4)
           END AS overweight
    FROM budgets b, zs z
    """,
)
def j137_corrected_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-corrected mixture weights — the op j136 exists to feed:
    j61's temperature weighting (w ∝ tokens^α, α = the UNIMAX/mT5
    flattening exponent) computed TWICE, once on raw per-source token
    budgets and once on the cascade-surviving budgets, with the
    overweight ratio w_raw / w_corrected per source. A source whose
    apparent budget is mostly copies gets overweight > 1 — raw-count
    mixtures would sample its unique content MORE often per unique
    token than clean sources', exactly the duplication-amplification
    a trained model sees as memorization pressure. The corrected
    column is what the sampler (j19/j61's md5-threshold realization)
    should consume.

    Exactness: budgets are exact BIGINTs from the shared j136 kernel;
    pow(double, α) is the j61-established cross-engine-identical
    chain; each weight rounds to 6 decimals BEFORE the ratio (the
    ratio divides the two ROUNDED weights, so both engines divide
    identical doubles), and the ratio rounds once. Plan: everything
    after the |sources|-row budgets table is arithmetic on ≤|sources|
    rows + one 1-row broadcast of the two normalizers — the dedup
    cascade underneath is the only corpus-sized work, shared with
    j136 at 100 TB (run once, feed both reports)."""
    from json2hbase_spark.materialize import materialize

    # round 13: b is consumed twice (the z normalizers + the final
    # select) — unmaterialized, the ENTIRE budgets kernel (corpus
    # normalize, dedup cascade, blocked near-dup join) executed twice.
    # b is a |sources|-row table; one checkpoint halves the query.
    b = materialize(_source_token_budgets(spark, sf_dir))
    zs = b.agg(
        F.sum(F.pow(F.col("tokens_raw").cast("double"), MIX_ALPHA)).alias("z_raw"),
        F.sum(F.pow(F.col("tokens_near").cast("double"), MIX_ALPHA)).alias("z_near"),
    )
    w_raw = F.round(
        F.pow(F.col("tokens_raw").cast("double"), MIX_ALPHA) / F.col("z_raw"), 6
    )
    w_cor = F.round(
        F.pow(F.col("tokens_near").cast("double"), MIX_ALPHA) / F.col("z_near"), 6
    )
    # zero-denominator guard (ADVICE r10): if a source's corrected
    # weight rounds to 0 (all tokens near-dup-dropped), Spark Divide
    # yields NULL but DuckDB IEEE division yields inf — pin both to
    # NULL with an explicit CASE mirrored in the oracle.
    overweight = F.when(w_cor == 0, F.lit(None).cast("double")).otherwise(
        F.round(w_raw / w_cor, 4)
    )
    return b.crossJoin(F.broadcast(zs)).select(
        "source",
        "tokens_raw",
        "tokens_near",
        w_raw.alias("w_raw"),
        w_cor.alias("w_corrected"),
        overweight.alias("overweight"),
    )


# ---------------------------------------------------------------- j140


def _duck_dup_quality_oracle() -> str:
    from json2hbase_spark.plans.corpus_queries import _duck_md5_minhash_oracle

    base = _duck_md5_minhash_oracle()
    head = base[: base.index("SELECT c.doc_a")]
    jacc = (
        "CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)"
        " / (len(sa.shingles) + len(sb.shingles)"
        " - len(list_intersect(sa.shingles, sb.shingles)))"
    )
    return (
        head
        + f""", vp AS (
      SELECT c.doc_a, c.doc_b
      FROM cand c
      JOIN sh sa ON sa.doc_id = c.doc_a
      JOIN sh sb ON sb.doc_id = c.doc_b
      WHERE {jacc} >= 0.5
    ),
    dup AS (SELECT DISTINCT doc_id FROM (
      SELECT doc_a AS doc_id FROM vp UNION ALL SELECT doc_b FROM vp
    )),
    qf AS (
      SELECT doc_id,
             round(ln(1 + len(list_filter(string_split(text, ' '), x -> x != '')))
                   * (1.0 - CAST(len(text) - len(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE)
                            / greatest(len(text), 1))
                   * (0.5 + CAST(len(list_filter(list_filter(string_split(text, ' '), x -> x != ''),
                        t -> list_contains(['the','a','of','and','to','in','is','on','for','with'], t)))
                        AS DOUBLE)
                      / greatest(len(list_filter(string_split(text, ' '), x -> x != '')), 1)),
                   4) AS quality
      FROM documents
    )
    SELECT CAST(least(CAST(floor(q.quality) AS BIGINT), 6) AS INT) AS qbin,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(d.doc_id) AS BIGINT) AS n_dup_docs,
           round(CAST(COUNT(d.doc_id) AS DOUBLE) / COUNT(*), 4) AS dup_rate,
           round(CAST(SUM(CAST(q.quality AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*), 4)
             AS avg_quality
    FROM qf q LEFT JOIN dup d ON d.doc_id = q.doc_id
    GROUP BY 1
    """
    )


@query("j140_dup_quality_interaction", oracle=_duck_dup_quality_oracle())
def j140_dup_quality_interaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplication × quality interaction — the audit that decides GATE
    ORDER in a corpus build (dedup-then-filter vs filter-then-dedup):
    per quality band (unit-width bins of j12's heuristic score,
    capped at 6), how many docs are members of ANY verified near-dup
    pair (j48's banded md5-MinHash, exact-Jaccard ≥ 0.5 confirmed) and
    the band's dup rate. Duplication concentrating in the LOW bands
    means the quality gate already removes most dup mass — run it
    first and the expensive pair stage shrinks; a flat profile means
    dedup must run regardless and order is a throughput choice.
    Classic corpus-curation evidence (the Gopher/RefinedWeb analyses
    report exactly this interaction).

    Exactness: the quality score is j12's hash-checked expression
    (ln inside the 4dp rounding); the per-band mean sums the ROUNDED
    scores as DECIMAL(18,4) — order-free — and divides once; counts
    are exact. Plan: j48's banded pipeline (never all-pairs) produces
    the dup id set, which broadcasts into a left semi-style tag join
    against the one-scan quality projection; the rollup is a ≤7-row
    hash agg. At 100 TB: the dedup pass the corpus already runs plus
    one scan — no new corpus-sized shuffle."""
    from json2hbase_spark.plans.corpus_queries import _md5_dup_pairs
    from json2hbase_spark.plans.llm_queries import j12_quality_score

    _, vp = _md5_dup_pairs(spark, sf_dir)
    # round 13: the unionAll form consumed vp TWICE — each leg re-ran
    # the banded candidate join + Jaccard confirm (the minhash agg
    # chain above is NOT materialized past sh). explode([doc_a,
    # doc_b]) is the same multiset from ONE consumption; distinct
    # collapses identically.
    dup = (
        vp.select(F.explode(F.array("doc_a", "doc_b")).alias("doc_id"))
        .distinct()
        .withColumn("_dup", F.lit(1))
    )
    qf = j12_quality_score(spark, sf_dir).select("doc_id", "quality")
    tagged = qf.join(F.broadcast(dup), "doc_id", "left")
    qbin = F.least(F.floor(F.col("quality")).cast("long"), F.lit(6).cast("long"))
    return (
        tagged.groupBy(qbin.cast("int").alias("qbin"))
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.count("_dup").cast("bigint").alias("n_dup_docs"),
            F.round(F.count("_dup").cast("double") / F.count("*"), 4).alias(
                "dup_rate"
            ),
            F.round(
                F.sum(F.col("quality").cast("decimal(18,4)")).cast("double")
                / F.count("*"),
                4,
            ).alias("avg_quality"),
        )
    )


# ---------------------------------------------------------------- j156

KANON_K = 5  # groups smaller than this are re-identification risks
KANON_BUCKET = 100  # n_chars quasi-identifier bucket width


@query(
    "j156_k_anonymity",
    oracle=f"""
    WITH qi AS (
      SELECT source, lang, n_chars // {KANON_BUCKET} AS bucket,
             COUNT(*) AS sz
      FROM documents GROUP BY source, lang, n_chars // {KANON_BUCKET}
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(MIN(sz) AS BIGINT) AS k_anonymity,
           CAST(SUM(CASE WHEN sz < {KANON_K} THEN 1 ELSE 0 END) AS BIGINT)
             AS n_small_groups,
           CAST(SUM(CASE WHEN sz < {KANON_K} THEN sz ELSE 0 END) AS BIGINT)
             AS n_docs_at_risk
    FROM qi GROUP BY source
    """,
)
def j156_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-ANONYMITY audit (round 12, Sweeney 2002) — the privacy-family
    rung between j22's per-document PII detection and j74's
    differentially-private release: treat (lang, source,
    length-bucket) as the quasi-identifier tuple a release would
    expose, and measure how small the smallest equivalence class per
    source is. A source whose k_anonymity is 1 publishes documents
    that are UNIQUE under the quasi-identifiers — joinable back to an
    individual record by anyone holding an auxiliary table; the
    {KANON_K}-threshold columns count the risky classes and the docs
    inside them (the rows a suppression/generalization pass would
    have to touch before release).

    Exactness: pure integer group-bys. Plan: ONE scan into a
    (source, lang, bucket) hash agg (map-side combinable), then a
    source-keyed re-agg over the group table — group count ≤
    |sources|·|langs|·|buckets|, constants at 100 TB."""
    docs = load(spark, sf_dir, "documents")
    qi = (
        widen(docs)
        .groupBy(
            "source",
            "lang",
            F.expr(f"n_chars div {KANON_BUCKET}").alias("bucket"),
        )
        .agg(F.count("*").alias("sz"))
    )
    return qi.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_groups"),
        F.min("sz").cast("bigint").alias("k_anonymity"),
        F.sum(F.when(F.col("sz") < KANON_K, 1).otherwise(0))
        .cast("bigint")
        .alias("n_small_groups"),
        F.sum(F.when(F.col("sz") < KANON_K, F.col("sz")).otherwise(0))
        .cast("bigint")
        .alias("n_docs_at_risk"),
    )
