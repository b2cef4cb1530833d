package graft.queries

import graft.{GraftQuery, Tables}
import graft.operators.{Dedup, Packing, Sampling, TextAnalysis, UrlOps}
import org.apache.spark.sql.functions._

/** End-to-end corpus-BUILD composition gate: the production DAG every
  * pretraining data pipeline runs, as ONE lazy Spark plan with the
  * final packed sequences hash-gated —
  *
  *   URL dedup (d42) → exact dedup (d01) → MinHash near-dup removal
  *   (d03) → quality filter (t17) → weighted token-budget mixture
  *   (s21) → sequence packing (s17)
  *
  * Each stage's semantics are individually gated by its own query;
  * what ONLY this gate proves is that the operators COMPOSE — no
  * stage depends on a materialization boundary, a column it forgot to
  * carry, or a partitioning side effect of running alone (the md5 of
  * every packed training sequence pins every upstream keep/drop
  * decision at once). The fixture plants exact copies (+2M ids) and
  * near-dup mutations (+1M ids) so every dedup stage has real work
  * even on the driver's near-uniform shape, and the synthetic URLs
  * collide across base ids (ids ≡ mod 100 with an empty query share a
  * canonical), so URL dedup cuts real rows too.
  *
  * Scale shape = the sum of its parts, unchanged by composition: two
  * fingerprint-keyed shuffles (URL canonical, exact), the banded
  * minhash equi-join, three map-side filters, one broadcast ratio
  * table, one per-source window. Document text shuffles exactly
  * twice (the exact-dedup window and the final pack — both on
  * fixed-width keys), never in the candidate joins. The flip side of
  * zero materialization barriers is repeated SOURCE SCANS (each stage
  * referencing the doc frame re-reads the pruned parquet — 12 scans
  * in the audited plan): cheap here and pushdown-pruned, and the
  * right default when scans are cheaper than staging; a pipeline over
  * an expensive source would localCheckpoint the post-exact-dedup
  * survivor frame and keep everything downstream identical. */
object PipelineQueries {

  private val stop = TextAnalysis.defaultStopwords
  private val stopSql = stop.map(s => s"'$s'").mkString(", ")

  private val mixWeights = Map("src0" -> 0.4, "src1" -> 0.25,
    "src2" -> 0.15, "src3" -> 0.2)

  /** Stages 1–4 of the corpus build (URL dedup → exact dedup → near-dup
    * removal → quality filter) — shared verbatim by c01 and c02; the
    * two gates differ only in what stage 5/6 budgets COUNT. */
  private def survivorDocs(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val docs = Tables(s, d, "documents").select("doc_id", "text", "source")
    val near = docs.filter(col("doc_id") < 10)
      .select((col("doc_id") + 1000000).as("doc_id"),
        concat(col("text"), lit(" graftdup")).as("text"), col("source"))
    val exact = docs.filter(col("doc_id") < 10)
      .select((col("doc_id") + 2000000).as("doc_id"), col("text"),
        col("source"))
    val p0 = docs.unionByName(near).unionByName(exact)
    // 1. URL-level dedup: canonicalize the synthetic raw URL, keep
    //    each canonical's min doc_id (the d42 operator end to end)
    val keepers = UrlOps.urlDedup(
        p0.select(col("doc_id"),
          DedupQueries.syntheticUrl(col("doc_id")).as("url")),
        "url", "doc_id")
      .select(col("keeper_id").as("doc_id"))
    val p1 = p0.join(keepers, Seq("doc_id"), "left_semi")
    // 2. exact-text dedup, keep-first
    val p2 = Dedup.exactKeepFirst(p1, "text", "doc_id")
    // 3. near-dup removal: drop the larger id of every verified pair
    val pairs = Dedup.minhashNearDupPairs(p2, "doc_id", "text",
      numHashes = 128, bands = 64, threshold = 0.5)
    val p3 = p2.join(pairs.select(col("b").as("doc_id")).distinct(),
      Seq("doc_id"), "left_anti")
    // 4. quality filter: the t17 linear classifier, keep = logit ≥ 0
    val z = lit(-1.5) +
      lit(6.0) * TextAnalysis.stopwordRatio(col("text"), stop) -
      lit(8.0) * TextAnalysis.digitRatio(col("text")) -
      lit(4.0) * TextAnalysis.punctRatio(col("text")) +
      lit(0.35) * TextAnalysis.avgTokenLen(col("text"))
    // LAZY localCheckpoint (the d17 discipline): the survivor frame
    // feeds 2 (c01) to 4 (c02) downstream branches, and uncheckpointed
    // each re-ran URL dedup + the exact-dedup window + the minhash
    // candidate join (12 scans / 7 windows in the audited c01 plan).
    // Operator-CACHING it was tried first and measured SLOWER (the
    // columnar cache round-trip beats nothing when exchange reuse
    // already shares the shuffles); the row-format checkpoint avoids
    // that conversion and truncates the subtree outright. Lazy, so the
    // materialization happens inside the caller's own action.
    p3.filter(round(z, 6) >= 0).localCheckpoint(false)
  }

  private val c01 = GraftQuery(
    "c01_corpus_pipeline",
    (s, d) => {
      val p4 = survivorDocs(s, d)
      // 5. weighted token-budget mixture (the s21 stage, doc-level)
      val p5 = Sampling.tokenBudgetMixFilter(p4, "doc_id", "text",
        "source", mixWeights, budgetTokens = 3000)
      // 6. pack into training sequences (the s17 stage) and emit the
      //    gate surface: per pack, the sequence's md5 + exact sizes
      val packed = Packing.packByBudget(p5, col("source"), col("doc_id"),
        col("_tok"), budget = 512)
      packed.groupBy(col("source"), col("_pack").as("pack"))
        .agg(count(lit(1)).as("n_docs"),
          array_join(
            transform(
              sort_array(collect_list(struct(col("doc_id"), col("text")))),
              e => e.getField("text")),
            "<|eos|>").as("_seq"))
        .select(col("source"), col("pack"), col("n_docs"),
          length(col("_seq")).cast("long").as("seq_chars"),
          md5(col("_seq")).as("seq_md5"))
        .orderBy("source", "pack")
    },
    Some(s"""WITH p0 AS MATERIALIZED (
        SELECT doc_id, text, source FROM documents
        UNION ALL SELECT doc_id + 1000000, text || ' graftdup', source
          FROM documents WHERE doc_id < 10
        UNION ALL SELECT doc_id + 2000000, text, source
          FROM documents WHERE doc_id < 10),
      keep1 AS MATERIALIZED (
        SELECT min(doc_id) AS doc_id FROM (
          SELECT doc_id, ${DedupQueries.canonicalUrlClosedFormSql} AS cu
          FROM p0)
        GROUP BY cu),
      p1 AS MATERIALIZED (SELECT p0.* FROM p0 JOIN keep1 USING (doc_id)),
      p2 AS MATERIALIZED (
        SELECT doc_id, text, source FROM (
          SELECT *, row_number() OVER (
            PARTITION BY lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))
            ORDER BY doc_id) AS rn
          FROM p1) WHERE rn = 1),
      p AS MATERIALIZED (SELECT doc_id, text FROM p2),
      sh AS MATERIALIZED (${DedupQueries.shingleCteSql}),
      nd AS MATERIALIZED (
        SELECT DISTINCT b.doc_id AS b FROM sh a JOIN sh b
        ON a.doc_id < b.doc_id
        WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
          (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.5),
      p3 AS MATERIALIZED (
        SELECT p2.* FROM p2 LEFT JOIN nd ON p2.doc_id = nd.b
        WHERE nd.b IS NULL),
      p4 AS MATERIALIZED (
        SELECT doc_id, text, source FROM (
          SELECT *,
            -1.5 + 6.0 * (CAST(len(list_filter(
                string_split_regex(trim(text), '\\s+'),
                t -> t IN ($stopSql))) AS DOUBLE)
              / len(string_split_regex(trim(text), '\\s+')))
            - 8.0 * (CAST(length(text) -
                length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE)
              / length(text))
            - 4.0 * (CAST(length(text) -
                length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE)
              / length(text))
            + 0.35 * (CAST(length(regexp_replace(text, '\\s', '', 'g'))
                AS DOUBLE)
              / len(string_split_regex(trim(text), '\\s+'))) AS z
          FROM p3) WHERE round(z, 6) >= 0),
      base AS MATERIALIZED (
        SELECT doc_id, text, source,
          CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS tok
        FROM p4),
      r AS MATERIALIZED (
        SELECT source,
          least(1.0,
            CASE source WHEN 'src0' THEN 0.4 WHEN 'src1' THEN 0.25
              WHEN 'src2' THEN 0.15 WHEN 'src3' THEN 0.2 ELSE 0.0 END
            * 3000.0 / sum(tok)) AS ratio
        FROM base GROUP BY source),
      kept AS MATERIALIZED (
        SELECT b.doc_id, b.text, b.source, b.tok
        FROM base b JOIN r USING (source)
        WHERE ('0x' || substr(md5(CAST(b.doc_id AS VARCHAR)), 1, 8))::UBIGINT
          / 4294967296.0 < r.ratio),
      c AS MATERIALIZED (
        SELECT *, coalesce(sum(tok) OVER (PARTITION BY source
          ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
          0) AS before
        FROM kept),
      pk AS (
        SELECT source, CAST(floor(before / 512.0) AS BIGINT) AS pack,
          doc_id, text
        FROM c)
      SELECT source, pack, count(*) AS n_docs,
        CAST(length(string_agg(text, '<|eos|>' ORDER BY doc_id)) AS BIGINT)
          AS seq_chars,
        md5(string_agg(text, '<|eos|>' ORDER BY doc_id)) AS seq_md5
      FROM pk GROUP BY source, pack ORDER BY source, pack"""),
    bench = true)

  // --- c02: the SAME corpus build budgeted in REAL subword tokens ------
  // c01 with the r13 gap closed: stage 5's mixture budget and stage
  // 6's pack budget count Bpe.encode token ids instead of whitespace
  // words — the production corpus build, tokenizer included, as ONE
  // lazy plan with one hash. The tokenizer trains on the pipeline's
  // OWN ingest union (p0) — the realistic choice, and it guarantees
  // every character a survivor can contain was seen in training
  // (Bpe.encode fails loudly on unseen symbols by design).
  //
  // Scale shape on top of c01's: + one (word)-keyed aggregate over the
  // ingest for training, 24 in-memory merge rounds, and the
  // per-survivor encode (map-side chain + broadcast vocab join + one
  // (doc_id)-keyed count). Text still shuffles exactly twice.
  private val c02 = GraftQuery(
    "c02_corpus_pipeline_bpe",
    (s, d) => {
      val docs = Tables(s, d, "documents").select("doc_id", "text", "source")
      val near = docs.filter(col("doc_id") < 10)
        .select((col("doc_id") + 1000000).as("doc_id"),
          concat(col("text"), lit(" graftdup")).as("text"), col("source"))
      val exact = docs.filter(col("doc_id") < 10)
        .select((col("doc_id") + 2000000).as("doc_id"), col("text"),
          col("source"))
      val p0 = docs.unionByName(near).unionByName(exact)
      val p4 = survivorDocs(s, d)
      // the same one-aggregate trainer as t34: the complete type table
      // (31 types on this fixture at every sf) is collected under
      // Bpe.MaxTypes and trained in memory
      val model = graft.operators.Bpe.train(s, p0, "text",
        TextQueries.bpeMergeRounds)
      val counts = graft.operators.Bpe
        .encode(s, p4, "doc_id", "text", model)
        .groupBy("doc_id").agg(count(lit(1)).as("_btok"))
      // left join + 0: a survivor with no contract-passing word still
      // flows through the budget at zero token cost (both engines)
      val p4t = p4.join(counts, Seq("doc_id"), "left")
        .withColumn("_btok", coalesce(col("_btok"), lit(0L)))
      val p5 = Sampling.tokenBudgetMixFilterCounted(p4t, "doc_id",
        col("_btok"), "source", mixWeights, budgetTokens = 9000)
      val packed = Packing.packByBudget(p5, col("source"), col("doc_id"),
        col("_tok"), budget = 1024)
      packed.groupBy(col("source"), col("_pack").as("pack"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("_tok")).as("bpe_tokens"),
          array_join(
            transform(
              sort_array(collect_list(struct(col("doc_id"), col("text")))),
              e => e.getField("text")),
            "<|eos|>").as("_seq"))
        .select(col("source"), col("pack"), col("n_docs"),
          col("bpe_tokens"),
          length(col("_seq")).cast("long").as("seq_chars"),
          md5(col("_seq")).as("seq_md5"))
        .orderBy("source", "pack")
    },
    // pipeline stages renamed g0..g4 (the BPE CTEs own p1..p24); the
    // tokenizer's unrolled rounds come from TextQueries.bpeTrainCtes
    // over g0, so the two engines compose the IDENTICAL model + counts
    Some(s"""WITH g0 AS MATERIALIZED (
        SELECT doc_id, text, source FROM documents
        UNION ALL SELECT doc_id + 1000000, text || ' graftdup', source
          FROM documents WHERE doc_id < 10
        UNION ALL SELECT doc_id + 2000000, text, source
          FROM documents WHERE doc_id < 10),
      keep1 AS MATERIALIZED (
        SELECT min(doc_id) AS doc_id FROM (
          SELECT doc_id, ${DedupQueries.canonicalUrlClosedFormSql} AS cu
          FROM g0)
        GROUP BY cu),
      g1 AS MATERIALIZED (SELECT g0.* FROM g0 JOIN keep1 USING (doc_id)),
      g2 AS MATERIALIZED (
        SELECT doc_id, text, source FROM (
          SELECT *, row_number() OVER (
            PARTITION BY lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))
            ORDER BY doc_id) AS rn
          FROM g1) WHERE rn = 1),
      p AS MATERIALIZED (SELECT doc_id, text FROM g2),
      sh AS MATERIALIZED (${DedupQueries.shingleCteSql}),
      nd AS MATERIALIZED (
        SELECT DISTINCT b.doc_id AS b FROM sh a JOIN sh b
        ON a.doc_id < b.doc_id
        WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
          (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.5),
      g3 AS MATERIALIZED (
        SELECT g2.* FROM g2 LEFT JOIN nd ON g2.doc_id = nd.b
        WHERE nd.b IS NULL),
      g4 AS MATERIALIZED (
        SELECT doc_id, text, source FROM (
          SELECT *,
            -1.5 + 6.0 * (CAST(len(list_filter(
                string_split_regex(trim(text), '\\s+'),
                t -> t IN ($stopSql))) AS DOUBLE)
              / len(string_split_regex(trim(text), '\\s+')))
            - 8.0 * (CAST(length(text) -
                length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE)
              / length(text))
            - 4.0 * (CAST(length(text) -
                length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE)
              / length(text))
            + 0.35 * (CAST(length(regexp_replace(text, '\\s', '', 'g'))
                AS DOUBLE)
              / len(string_split_regex(trim(text), '\\s+'))) AS z
          FROM g3) WHERE round(z, 6) >= 0),
      ${TextQueries.bpeTrainCtes(TextQueries.bpeMergeRounds, "g0")},
      docw AS MATERIALIZED (
        SELECT d.doc_id, d.ws[wi.i] AS word
        FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ws
              FROM g4) d,
             LATERAL (SELECT unnest(generate_series(1, len(d.ws))) AS i) wi
        WHERE regexp_matches(d.ws[wi.i], '^[a-z0-9]+$$')),
      perdoc AS MATERIALIZED (
        SELECT dw.doc_id, CAST(sum(len(string_split(
            substring(st.state, 2, length(st.state) - 2), '  '))) AS BIGINT)
          AS bpe
        FROM docw dw
        JOIN s${TextQueries.bpeMergeRounds} st ON st.word = dw.word
        GROUP BY dw.doc_id),
      base AS MATERIALIZED (
        SELECT g4.doc_id, g4.text, g4.source,
          coalesce(pd.bpe, 0) AS tok
        FROM g4 LEFT JOIN perdoc pd USING (doc_id)),
      r AS MATERIALIZED (
        SELECT source,
          CASE WHEN sum(tok) = 0 THEN 1.0 ELSE least(1.0,
            CASE source WHEN 'src0' THEN 0.4 WHEN 'src1' THEN 0.25
              WHEN 'src2' THEN 0.15 WHEN 'src3' THEN 0.2 ELSE 0.0 END
            * 9000.0 / sum(tok)) END AS ratio
        FROM base GROUP BY source),
      kept AS MATERIALIZED (
        SELECT b.doc_id, b.text, b.source, b.tok
        FROM base b JOIN r USING (source)
        WHERE ('0x' || substr(md5(CAST(b.doc_id AS VARCHAR)), 1, 8))::UBIGINT
          / 4294967296.0 < r.ratio),
      c AS MATERIALIZED (
        SELECT *, coalesce(sum(tok) OVER (PARTITION BY source
          ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
          0) AS before
        FROM kept),
      pk AS (
        SELECT source, CAST(floor(before / 1024.0) AS BIGINT) AS pack,
          doc_id, text, tok
        FROM c)
      SELECT source, pack, count(*) AS n_docs,
        CAST(sum(tok) AS BIGINT) AS bpe_tokens,
        CAST(length(string_agg(text, '<|eos|>' ORDER BY doc_id)) AS BIGINT)
          AS seq_chars,
        md5(string_agg(text, '<|eos|>' ORDER BY doc_id)) AS seq_md5
      FROM pk GROUP BY source, pack ORDER BY source, pack"""),
    bench = true)

  val all: Seq[GraftQuery] = Seq(c01, c02)
}
