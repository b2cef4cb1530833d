package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic byte-pair-encoding tokenizer — train + encode, the
  * first-class subword step every LLM data pipeline ends in (counting
  * whitespace tokens approximates budgets; packing and context-length
  * decisions want REAL token ids).
  *
  * Determinism contract (both engines replay it exactly):
  *   - pre-tokens are whitespace-split words restricted to
  *     `^[a-z0-9]+$` (makes every symbol SQL-literal-safe and keeps
  *     the two-space separator representation unambiguous; the corpus
  *     tables are lowercase words, so nothing real is dropped — a
  *     production vocabulary would widen the character class, which
  *     changes only the regex and the alphabet size);
  *   - training operates on the word-TYPE table (word, freq) — the
  *     classic BPE formulation — so corpus-sized work is exactly ONE
  *     (word)-keyed aggregate up front; every merge round touches only
  *     the vocabulary-sized type table;
  *   - merge selection is a TOTAL order: (pair count DESC, left ASC,
  *     right ASC) — ASCII-binary string comparison in both engines;
  *   - a word's segmentation state is its symbols each wrapped in
  *     single spaces (`"cat"` → `" c  a  t "`): applying merge (l, r)
  *     is then ONE literal `replace(state, " l  r ", " lr ")` — both
  *     engines scan left-to-right non-overlapping, which IS BPE's
  *     leftmost-first rule ("aaa" + (a,a) → ["aa","a"]);
  *   - applying each merge ONCE in rank order is a fixpoint: a merge
  *     creates adjacencies only WITH its new symbol (never between two
  *     older symbols), and no earlier merge's operands can equal a
  *     later merge's output, so no earlier pattern ever reappears.
  *     Encoding any word is therefore a stateless chain of `numMerges`
  *     literal replaces — no joins, no shuffles, no state.
  *
  * SCALE, honestly, per axis (the vocabulary axis is a tokenizer's
  * defining one — gated at 512 merges over a ≥5k-type fixture by
  * t39/t40, not just the 24-merge documents gate t34/t35):
  *   - encode plan depth: one expression chaining ALL merges breaks
  *     past a few hundred (whole-stage-codegen's 64 KB method limit,
  *     then the analyzer). [[encode]] therefore applies merges in
  *     chunks of `chunkEvery` with a `localCheckpoint` between chunks
  *     — and pays the chain once per word TYPE, not per token: the
  *     chunked fold runs over the distinct-word table (vocabulary-
  *     sized, so each checkpoint materializes kilobytes–megabytes, not
  *     the corpus), then one equi-join maps corpus words to their
  *     segmentation. Plan depth is O(chunkEvery); values are provably
  *     unchanged (checkpoint placement never changes the arithmetic).
  *   - train barriers: greedy BPE is inherently sequential — one
  *     argmax per merge over the word-type table (Sennrich et al. 2016,
  *     arXiv:1508.07909) — so a Spark job per merge buys no parallelism,
  *     only scheduling. [[train]] therefore runs ONE corpus aggregate,
  *     collects the complete type table under the loud [[MaxTypes]]
  *     bound, and trains in memory ([[trainLocal]]). Every type votes,
  *     so the model is exactly the full-recount model the DuckDB
  *     oracles replay round by round.
  *
  * 100 TB shape: train = one corpus aggregate + a driver-side type
  * table of at most [[MaxTypes]] rows (a larger vocabulary fails
  * loudly, never trains a silently different model); encode = chunked
  * type-table fold + one equi-join back to corpus words + a broadcast
  * vocab join. The per-chunk encode body is plan-audited via
  * [[IterTrace]] ("bpe_encode_chunk").
  */
object Bpe {

  /** Largest word-type table [[train]] collects to the driver. The
    * widest gated fixture (t39/t40) has under 19k types. */
  val MaxTypes: Int = 1 << 16

  /** A trained tokenizer: ordered merges + the base alphabet. Ids:
    * alphabet symbols get 0..|A|−1 in lexicographic order, merge of
    * rank r (1-based) gets |A|+r−1 — deterministic and replayable. */
  final case class Model(alphabet: Seq[String],
      merges: Seq[(String, String, Long)]) {
    require(alphabet == alphabet.sorted && alphabet.distinct == alphabet,
      "alphabet must be sorted and distinct")

    /** Token-id table. Two merges CAN concatenate to the same surface
      * string (e.g. (a,bc) after (ab,c) both yield "abc"); the table
      * keeps the SMALLEST id per token string so `vocab` stays a
      * FUNCTION — encode's id join emits exactly one row per token,
      * and the SQL oracles dedup identically (min(token_id) GROUP BY
      * token). */
    def vocab: Seq[(String, Long)] = {
      val raw = alphabet.zipWithIndex.map { case (s, i) => (s, i.toLong) } ++
        merges.zipWithIndex.map { case ((l, r, _), i) =>
          (l + r, (alphabet.size + i).toLong) }
      raw.groupMapReduce(_._1)(_._2)(math.min).toSeq.sortBy(_._2)
    }
  }

  /** Word-type table (word, freq) over the whitespace pre-tokens that
    * pass the `[a-z0-9]+` contract — the ONE corpus-sized pass. */
  def wordFreqs(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(split(trim(col(textCol)), "\\s+")).as("word"))
      .filter(col("word").rlike("^[a-z0-9]+$"))
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))

  /** `"cat"` → `" c  a  t "`: every symbol wrapped in its own spaces,
    * so symbol boundaries stay unambiguous as merges build multi-char
    * symbols. */
  def initialState(word: Column): Column =
    regexp_replace(word, "(.)", " $1 ")

  /** One merge application — literal replace, leftmost-first
    * non-overlapping in both engines. */
  def applyMerge(state: Column, l: String, r: String): Column =
    replace(state, lit(s" $l  $r "), lit(s" $l$r "))

  /** Train `numMerges` merges over `docs(textCol)`: one [[wordFreqs]]
    * aggregate, then [[trainLocal]] over the complete type table. More
    * than [[MaxTypes]] word types fails loudly. Requires the corpus to
    * still have at least one adjacent pair at every round (i.e.
    * `numMerges` below the corpus's merge capacity Σ(|word|−1) over
    * types) — a silent early stop would diverge from the oracle's
    * fixed unroll, so running dry throws. */
  def train(spark: SparkSession, docs: DataFrame, textCol: String,
      numMerges: Int): Model = {
    val rows = wordFreqs(docs, textCol).limit(MaxTypes + 1).collect()
    require(rows.length <= MaxTypes,
      s"Bpe.train: more than MaxTypes=$MaxTypes word types")
    trainLocal(rows.map(r => (r.getString(0), r.getLong(1))).toSeq, numMerges)
  }

  /** Greedy BPE over an in-memory type table: argmax under the total
    * (count DESC, left ASC, right ASC) order, leftmost-first
    * application. Pure Scala: `numMerges` rounds over `types.size`
    * symbol vectors, no Spark jobs. */
  private def trainLocal(types: Seq[(String, Long)], numMerges: Int): Model = {
    require(types.nonEmpty, "empty type table")
    val alphabet =
      types.flatMap(_._1.split("")).filter(_.nonEmpty).distinct.sorted
    var states = types.toVector.map { case (w, f) =>
      (w.split("").filter(_.nonEmpty).toVector, f) }
    val merges = Seq.newBuilder[(String, String, Long)]
    var rank = 1
    while (rank <= numMerges) {
      val counts = scala.collection.mutable.HashMap
        .empty[(String, String), Long]
      states.foreach { case (syms, f) =>
        var i = 0
        while (i < syms.length - 1) {
          val k = (syms(i), syms(i + 1))
          counts.update(k, counts.getOrElse(k, 0L) + f)
          i += 1
        }
      }
      require(counts.nonEmpty,
        s"BPE ran out of pairs at merge $rank/$numMerges — corpus too " +
          "small for the requested vocabulary")
      // argmax under (cnt DESC, lhs ASC, rhs ASC) — String compareTo is
      // the same binary order Spark/DuckDB use on [a-z0-9] symbols
      val ((l, r), c) = counts.minBy { case ((pl, pr), pc) =>
        (-pc, pl, pr) }
      merges += ((l, r, c))
      states = states.map { case (syms, f) =>
        val out = Vector.newBuilder[String]
        var i = 0
        while (i < syms.length) {
          if (i < syms.length - 1 && syms(i) == l && syms(i + 1) == r) {
            out += (l + r); i += 2 // leftmost-first non-overlapping
          } else { out += syms(i); i += 1 }
        }
        (out.result(), f)
      }
      rank += 1
    }
    Model(alphabet, merges.result())
  }

  /** Segmentation state of ANY word under the trained merges — a
    * stateless chain of literal replaces in rank order (the fixpoint
    * argument in the object doc): pure map-side, fully codegen'd.
    * Plan-depth warning: fine to a few hundred merges; past that use
    * [[encode]]'s chunked type-table path. */
  def encodeState(word: Column, model: Model): Column =
    model.merges.foldLeft(initialState(word)) {
      case (acc, (l, r, _)) => applyMerge(acc, l, r) }

  /** Encode documents to token-id sequences: (id, pos, token,
    * token_id), pos = 0-based position over the doc's whole token
    * stream. Pre-tokens outside the `[a-z0-9]+` contract are dropped
    * exactly as training dropped them; a CONTRACT-PASSING word whose
    * segmentation contains a symbol missing from the trained vocab
    * (i.e. a character never seen in training) fails LOUDLY via
    * `raise_error` — silently dropping symbols while positions stay
    * dense would shorten token streams with no signal.
    *
    * Scale shape: ≤ `chunkEvery` merges inline as one codegen'd
    * replace chain (zero extra stages); above that the chain is paid
    * once per word TYPE — distinct words → chunked fold with a
    * `localCheckpoint` every `chunkEvery` merges (type-table-sized
    * materializations, plan depth O(chunkEvery)) → plain equi-join
    * back to corpus words on `word`. The type table grows as Heaps'
    * law on a raw crawl (10⁷–10⁸ types at 100 TB — far past any
    * broadcast), so the join carries NO broadcast hint: the corpus
    * side shuffles on `word` either way, and AQE still broadcasts
    * whenever the type table is genuinely small. Then posexplode +
    * one broadcast vocab join for ids (the MERGE vocab is
    * `merges`-bounded, a true model table); the only window is
    * per-document (never global). */
  def encode(spark: SparkSession, docs: DataFrame, idCol: String,
      textCol: String, model: Model, chunkEvery: Int = 64): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(chunkEvery >= 1, "chunkEvery >= 1")
    val vocabDf = spark.createDataFrame(model.vocab)
      .toDF("token", "token_id")
    val w = Window.partitionBy(col(idCol)).orderBy(col("widx"), col("j"))
    val words = docs
      .select(col(idCol),
        posexplode(split(trim(col(textCol)), "\\s+")).as(Seq("widx", "word")))
      .filter(col("word").rlike("^[a-z0-9]+$"))
    val staged =
      if (model.merges.size <= chunkEvery)
        words.withColumn("_st", encodeState(col("word"), model))
      else {
        // LAZY checkpoints (eager = false): each chunk's checkpoint
        // still bounds plan depth at O(chunkEvery), but an EAGER one
        // ran a scheduled job per chunk over the type table before the
        // caller's action even started — 8 pre-jobs at 512 merges.
        // Lazy folds every chunk materialization into the caller's own
        // action; values are unchanged (checkpoint placement never
        // changes the arithmetic).
        var types = words.select(col("word")).distinct()
          .withColumn("_st", initialState(col("word")))
          .localCheckpoint(false)
        model.merges.grouped(chunkEvery).foreach { chunk =>
          types = IterTrace.record("bpe_encode_chunk",
            types.withColumn("_st",
              chunk.foldLeft(col("_st")) { case (acc, (l, r, _)) =>
                applyMerge(acc, l, r) }))
            .localCheckpoint(false)
        }
        words.join(types, Seq("word"))
      }
    staged
      .select(col(idCol), col("widx"),
        posexplode(split(expr("substring(_st, 2, length(_st) - 2)"), "  "))
          .as(Seq("j", "token")))
      .join(broadcast(vocabDf), Seq("token"), "left")
      .withColumn("token_id",
        when(col("token_id").isNull,
          raise_error(concat(
            lit("Bpe.encode: symbol outside the trained vocabulary: '"),
            col("token"), lit("'"))))
          .otherwise(col("token_id")))
      .withColumn("pos", row_number().over(w).cast("long") - 1)
      .select(col(idCol), col("pos"), col("token"), col("token_id"))
  }
}
