package graft.operators

import graft.PlanProbe.{CkptOps, ckptFresh}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** T35: unigram-LM (SentencePiece-family) tokenization — the OTHER
  * trained-subword family modern models ship (Kudo 2018, "Subword
  * Regularization"), beside [[Bpe]]'s merge-rule family. Where BPE
  * grows a vocabulary bottom-up by merging, unigram starts from a large
  * candidate vocabulary and alternates { segment the corpus under the
  * current piece weights (E), re-estimate piece weights from the chosen
  * segmentations and prune to the retained size (M) } — the classic
  * E/M shape, here as a FIXED-round loop.
  *
  * Deterministic integer variant (the house no-floats contract): the
  * E-step is hard-EM Viterbi under the lexicographic objective
  * (fewest pieces, then largest piece-weight sum, then leftmost-longest
  * pred tie-break) — exact integer comparisons replayable by any SQL
  * engine, standing in for the float log-likelihood argmax (which has
  * no cross-engine bit contract). The M-step re-weights pieces by
  * frequency-weighted use counts and keeps all single characters plus
  * the top `keep` multi-char pieces (count desc, piece asc).
  *
  * Spark-first shape — every training table is VOCABULARY-sized:
  *  - the corpus is touched twice (word-frequency build; final count
  *    join back to documents), exactly the [[Bpe]] staging contract;
  *  - the Viterbi DP is `maxLen` declarative relaxation rounds over the
  *    (word, position) lattice — dp(pos) improves via edges
  *    (piece matches ending at pos), the Bellman-Ford idiom the graph
  *    operators use, per-round ckptFresh bounding lineage;
  *  - the chosen segmentation is recovered by walking the per-position
  *    PRED pointers backward (`maxLen` tiny rounds) — pointer-function
  *    iteration, no driver collect anywhere.
  *
  * Config: pieces are 1..`maxPiece` chars; words longer than `maxLen`
  * are REJECTED loudly (production pretokenizes/chunks first — the
  * max-sentence-length analog of SentencePiece, stated subset).
  */
object Unigram {

  val MaxLen = 8
  val MaxPiece = 4
  val Keep = 64
  val EmRounds = 2

  /** Space-pretokenized (word, freq) corpus vocabulary. */
  private def wordFreq(docs: DataFrame, text: Column): DataFrame =
    docs.select(explode(split(text, " ")).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))

  /** All (w, i, j, piece) substring occurrences, 1..MaxPiece chars:
    * piece = w[i, j), 0-based i, j = i + piece length.
    */
  private def occurrences(wf: DataFrame): DataFrame =
    wf.select(col("w"),
        explode(expr(s"sequence(0, length(w) - 1)")).as("i"))
      .select(col("w"), col("i"),
        explode(expr(s"sequence(1, $MaxPiece)")).as("pl"))
      .filter(col("i") + col("pl") <= length(col("w")))
      .select(col("w"), col("i").cast("long").as("i"),
        (col("i") + col("pl")).cast("long").as("j"),
        expr("substring(w, i + 1, pl)").as("piece"))

  /** Keep all single-char pieces plus the top `Keep` multi-char pieces
    * by (cnt desc, piece asc); `singles` carries every seed single char
    * so a char can never be pruned (segmentability invariant).
    */
  private def prune(singles: DataFrame, counts: DataFrame): DataFrame = {
    val sg = singles.join(counts, Seq("piece"), "left")
      .select(col("piece"), coalesce(col("cnt"), lit(0L)).as("cnt"))
    val mt = counts.filter(length(col("piece")) >= 2)
      .orderBy(col("cnt").desc, col("piece")).limit(Keep)
    sg.unionByName(mt)
  }

  /** One E-step: Viterbi segmentation of every word under `vocab`
    * (piece, cnt). Returns (dpFinal (w, pos, n, s, bi, bp),
    * uses (w, piece, k) — pieces of each word's chosen segmentation).
    */
  private def eStep(wf: DataFrame, occ: DataFrame, vocab: DataFrame)
      : (DataFrame, DataFrame) = {
    val edges = ckptFresh(occ.join(broadcast(vocab), Seq("piece"))
      .select(col("w"), col("i"), col("j"), col("piece"), col("cnt").as("ps")))
    var dp = ckptFresh(wf.select(col("w"), lit(0L).as("pos"),
      lit(0L).as("n"), lit(0L).as("s"),
      lit(null).cast("long").as("bi"), lit(null).cast("string").as("bp")))
    val byPos = Window.partitionBy(col("w"), col("pos"))
      .orderBy(col("n"), col("s").desc, col("bi"), col("bp"))
    for (_ <- 1 to MaxLen) {
      val ext = dp.join(edges, dp("w") === edges("w") && dp("pos") === edges("i"))
        .select(dp("w"), edges("j").as("pos"),
          (col("n") + 1).as("n"), (col("s") + col("ps")).as("s"),
          edges("i").as("bi"), edges("piece").as("bp"))
      dp = ckptFresh(dp.unionByName(ext)
        .withColumn("rn", row_number().over(byPos))
        .filter(col("rn") === 1).drop("rn"))
    }
    val pred = dp.filter(col("pos") >= 1)
      .select(col("w"), col("pos"), col("bi"), col("bp"))
    var wk = wf.select(col("w"), length(col("w")).cast("long").as("pos"))
    var used: DataFrame = null
    for (_ <- 1 to MaxLen) {
      val step = ckptFresh(wk.join(pred, Seq("w", "pos"))
        .select(col("w"), col("bi").as("pos"), col("bp").as("piece")))
      used = if (used == null) step else used.unionByName(step)
      wk = step.select(col("w"), col("pos"))
    }
    val uses = ckptFresh(used.groupBy(col("w"), col("piece"))
      .agg(count(lit(1)).as("k")))
    (dp, uses)
  }

  /** One M-step: frequency-weighted use counts. */
  private def mStep(wf: DataFrame, uses: DataFrame): DataFrame =
    uses.join(wf, Seq("w"))
      .groupBy(col("piece"))
      .agg(sum(col("freq") * col("k")).cast("long").as("cnt"))

  /** Train the unigram model: seed → EmRounds × (E → M → prune).
    *
    * @return (vocab (piece, cnt) — the final retained pieces with their
    *         last-M counts; dpFinal — the last E-step's DP lattice, whose
    *         row at pos = length(w) carries each word's piece count `n`)
    */
  def train(docs: DataFrame, text: Column): (DataFrame, DataFrame) = {
    val wf = wordFreq(docs, text).ckpt
    val tooLong = wf.filter(length(col("w")) > MaxLen).limit(1)
      .collect().headOption.map(_.getString(0))
    require(tooLong.isEmpty,
      s"word longer than $MaxLen chars ('${tooLong.getOrElse("")}') — " +
        "pretokenize/chunk before unigram training (stated subset)")
    val occ = occurrences(wf).ckpt
    val seedCounts = occ.join(wf, Seq("w"))
      .groupBy(col("piece")).agg(sum(col("freq")).as("cnt"))
    val singles = occ.filter(length(col("piece")) === 1)
      .select(col("piece")).distinct().ckpt
    var vocab = ckptFresh(prune(singles, seedCounts))
    var dpFinal: DataFrame = null
    for (_ <- 1 to EmRounds) {
      val (dp, uses) = eStep(wf, occ, vocab)
      dpFinal = dp
      vocab = ckptFresh(prune(singles, mStep(wf, uses)))
    }
    (vocab, dpFinal)
  }

  /** Per-document token accounting under the trained model:
    * (doc_id, n_ws whitespace tokens, n_uni unigram pieces) — the last
    * E-step's per-word piece counts broadcast into one corpus join.
    */
  def tokenCounts(docs: DataFrame, id: Column, text: Column): DataFrame = {
    val (_, dp) = train(docs, text)
    val nPieces = dp.filter(col("pos") === length(col("w")))
      .select(col("w"), col("n").as("n_p"))
    docs.select(id.as("doc_id"), explode(split(text, " ")).as("w"))
      .filter(col("w") =!= "")
      .join(broadcast(nPieces), Seq("w"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_ws"), sum(col("n_p")).as("n_uni"))
  }

  /** Per-word chosen segmentation recovered from a trained DP lattice:
    * (w, pos, piece) — `piece` starts at 0-based `pos` in `w`; ordering
    * the rows of one word by `pos` ascending yields its token sequence.
    * The same backward pred-pointer walk as the E-step, kept separate so
    * encoding gates can run it off the memoized trained state without
    * retraining.
    */
  def segments(dp: DataFrame): DataFrame = {
    val pred = dp.filter(col("pos") >= 1)
      .select(col("w"), col("pos"), col("bi"), col("bp"))
    var wk = dp.filter(col("pos") === 0)
      .select(col("w"), length(col("w")).cast("long").as("pos"))
    var seg: DataFrame = null
    for (_ <- 1 to MaxLen) {
      val step = ckptFresh(wk.join(pred, Seq("w", "pos"))
        .select(col("w"), col("bi").as("pos"), col("bp").as("piece")))
      seg = if (seg == null) step else seg.unionByName(step)
      wk = step.select(col("w"), col("pos"))
    }
    seg
  }

  // ------------------------------------------------------------------
  // Oracle SQL generation: the identical loop unrolled as chained
  // MATERIALIZED CTEs (the Bpe pyramid contract — DuckDB 1.0 inlines
  // plain CTEs per reference, exponential in round count otherwise).
  // ------------------------------------------------------------------

  /** WITH-clause body: wf, oc, sg, v0, then per EM round e:
    * ed{e}, dp{e}_0..dp{e}_MaxLen, pr{e}, wk{e}_1..wk{e}_MaxLen,
    * us{e}, ct{e}, v{e}. The caller appends its final SELECT.
    */
  def oracleCtes(table: String, textCol: String): String = {
    val base =
      s"""wf AS MATERIALIZED (
         |  SELECT w, COUNT(*) AS freq FROM (
         |    SELECT unnest(string_split($textCol, ' ')) AS w FROM $table
         |  ) WHERE w <> '' GROUP BY w
         |),
         |oc AS MATERIALIZED (
         |  SELECT w, CAST(i AS BIGINT) AS i, CAST(i + pl AS BIGINT) AS j,
         |         substr(w, CAST(i + 1 AS INT), CAST(pl AS INT)) AS piece
         |  FROM (SELECT w, unnest(generate_series(0, length(w) - 1)) AS i FROM wf),
         |       (SELECT unnest(generate_series(1, $MaxPiece)) AS pl)
         |  WHERE i + pl <= length(w)
         |),
         |sg AS MATERIALIZED (
         |  SELECT DISTINCT piece FROM oc WHERE length(piece) = 1
         |),
         |sc0 AS MATERIALIZED (
         |  SELECT piece, CAST(SUM(freq) AS BIGINT) AS cnt
         |  FROM oc JOIN wf USING (w) GROUP BY piece
         |),
         |v0 AS MATERIALIZED (
         |  SELECT s.piece, COALESCE(c.cnt, 0) AS cnt
         |  FROM sg s LEFT JOIN sc0 c USING (piece)
         |  UNION ALL
         |  SELECT piece, cnt FROM (
         |    SELECT piece, cnt FROM sc0 WHERE length(piece) >= 2
         |    ORDER BY cnt DESC, piece LIMIT $Keep
         |  )
         |)""".stripMargin
    val rounds = (1 to EmRounds).map { e =>
      val dp0 =
        s"""ed$e AS MATERIALIZED (
           |  SELECT o.w, o.i, o.j, o.piece, v.cnt AS ps
           |  FROM oc o JOIN v${e - 1} v USING (piece)
           |),
           |dp${e}_0 AS MATERIALIZED (
           |  SELECT w, CAST(0 AS BIGINT) AS pos, CAST(0 AS BIGINT) AS n,
           |         CAST(0 AS BIGINT) AS s, CAST(NULL AS BIGINT) AS bi,
           |         CAST(NULL AS VARCHAR) AS bp
           |  FROM wf
           |)""".stripMargin
      val dps = (1 to MaxLen).map { r =>
        s"""dp${e}_$r AS MATERIALIZED (
           |  SELECT w, pos, n, s, bi, bp FROM (
           |    SELECT *, ROW_NUMBER() OVER (PARTITION BY w, pos
           |      ORDER BY n, s DESC, bi, bp) AS rn
           |    FROM (
           |      SELECT w, pos, n, s, bi, bp FROM dp${e}_${r - 1}
           |      UNION ALL
           |      SELECT d.w, e.j AS pos, d.n + 1 AS n, d.s + e.ps AS s,
           |             e.i AS bi, e.piece AS bp
           |      FROM dp${e}_${r - 1} d JOIN ed$e e ON e.w = d.w AND e.i = d.pos
           |    )
           |  ) WHERE rn = 1
           |)""".stripMargin
      }
      val walkBase =
        s"""pr$e AS MATERIALIZED (
           |  SELECT w, pos, bi, bp FROM dp${e}_$MaxLen WHERE pos >= 1
           |),
           |wk${e}_0 AS MATERIALIZED (
           |  SELECT w, CAST(length(w) AS BIGINT) AS pos FROM wf
           |)""".stripMargin
      val walks = (1 to MaxLen).map { r =>
        s"""wk${e}_$r AS MATERIALIZED (
           |  SELECT k.w, p.bi AS pos, p.bp AS piece
           |  FROM wk${e}_${r - 1} k JOIN pr$e p ON p.w = k.w AND p.pos = k.pos
           |)""".stripMargin
      }
      val tail = {
        val usedUnion = (1 to MaxLen)
          .map(r => s"SELECT w, piece FROM wk${e}_$r").mkString(" UNION ALL ")
        s"""us$e AS MATERIALIZED (
           |  SELECT w, piece, COUNT(*) AS k FROM ($usedUnion) GROUP BY w, piece
           |),
           |ct$e AS MATERIALIZED (
           |  SELECT piece, CAST(SUM(freq * k) AS BIGINT) AS cnt
           |  FROM us$e JOIN wf USING (w) GROUP BY piece
           |),
           |v$e AS MATERIALIZED (
           |  SELECT s.piece, COALESCE(c.cnt, 0) AS cnt
           |  FROM sg s LEFT JOIN ct$e c USING (piece)
           |  UNION ALL
           |  SELECT piece, cnt FROM (
           |    SELECT piece, cnt FROM ct$e WHERE length(piece) >= 2
           |    ORDER BY cnt DESC, piece LIMIT $Keep
           |  )
           |)""".stripMargin
      }
      (Seq(dp0) ++ dps ++ Seq(walkBase) ++ walks ++ Seq(tail)).mkString(",\n")
    }
    (base +: rounds).mkString(",\n")
  }

  /** Full oracle for the trained vocabulary (piece, cnt). */
  def vocabOracle(table: String, textCol: String): String =
    s"""WITH ${oracleCtes(table, textCol)}
       |SELECT piece, cnt FROM v$EmRounds ORDER BY piece""".stripMargin

  /** Oracle CTE tail: `np` (w, n_p) — per-word piece counts of the
    * final E-step.
    */
  def npCte: String =
    s"np AS MATERIALIZED (SELECT w, n AS n_p FROM dp${EmRounds}_$MaxLen WHERE pos = length(w))"

  /** Oracle CTE tail: `seg` (w, pos, piece) — the final E-step's chosen
    * segmentations, the SQL twin of [[segments]] (the walk CTEs
    * `wk$EmRounds_*` already exist in the pyramid; this just unions
    * them).
    */
  def segCte: String = {
    val u = (1 to MaxLen)
      .map(r => s"SELECT w, pos, piece FROM wk${EmRounds}_$r")
      .mkString(" UNION ALL ")
    s"seg AS MATERIALIZED ($u)"
  }

  /** Full oracle for [[tokenCounts]]. */
  def tokenCountsOracle(table: String, idCol: String, textCol: String): String =
    s"""WITH ${oracleCtes(table, textCol)},
       |$npCte,
       |dw AS MATERIALIZED (
       |  SELECT doc_id, w FROM (
       |    SELECT $idCol AS doc_id, unnest(string_split($textCol, ' ')) AS w
       |    FROM $table
       |  ) WHERE w <> ''
       |)
       |SELECT doc_id, COUNT(*) AS n_ws, CAST(SUM(n_p) AS BIGINT) AS n_uni
       |FROM dw JOIN np USING (w) GROUP BY doc_id ORDER BY doc_id""".stripMargin
}
