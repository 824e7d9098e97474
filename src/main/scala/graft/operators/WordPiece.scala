package graft.operators

import graft.PlanProbe.ckptFresh
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** T37: WordPiece-style greedy longest-match-first tokenization — the
  * THIRD subword family in deployment (BERT-lineage models), beside
  * [[Bpe]]'s merge rules and [[Unigram]]'s E/M-trained pieces. The
  * deployment-side algorithm (Song et al. 2021, "Fast WordPiece
  * Tokenization" describes the same MaxMatch core) is: at each
  * position take the LONGEST vocabulary piece that matches, emit it,
  * advance by its length. It is fully deterministic given a piece
  * inventory — here the on-cluster-trained [[Unigram]] vocabulary
  * (every single character is retained by that trainer, so a match
  * always exists and no [UNK] arm is needed — stated contract).
  *
  * Spark-first shape: the word list is the corpus VOCABULARY (never
  * the corpus), the piece inventory broadcasts, and the greedy scan is
  * [[Unigram.MaxLen]] declarative rounds — each round one equi-join of
  * the active (word, position) frontier against the broadcast pieces
  * on the substring key (never a theta join), one max-length argmax
  * per word, one pointer advance; per-round ckpt bounds lineage. Words
  * longer than [[Unigram.MaxLen]] never reach this operator (the
  * trainer rejects them loudly).
  */
object WordPiece {

  /** Greedy longest-match segmentation of every word in `words` under
    * the piece inventory `vocab`.
    *
    * @param words one column `w`, distinct words, each 1..MaxLen chars
    * @param vocab one column `piece` (1..MaxPiece chars; must contain
    *              every single character occurring in `words`)
    * @return (w, pos, piece) — `piece` starts at 1-based `pos` in `w`;
    *         ordering one word's rows by `pos` yields its sequence
    */
  def encode(words: DataFrame, vocab: DataFrame): DataFrame = {
    val v = broadcast(vocab.select(col("piece")))
    // The no-[UNK] contract holds only if every character is a piece —
    // check it loudly up front (one vocabulary-sized action) instead of
    // letting an uncovered word vanish from the greedy frontier.
    val missing = words
      .select(explode(split(col("w"), "")).as("piece")).distinct()
      .join(v, Seq("piece"), "left_anti").limit(1)
      .collect().headOption.map(_.getString(0))
    require(missing.isEmpty,
      s"piece inventory missing single character '${missing.getOrElse("")}'" +
        " — WordPiece needs full character coverage (stated contract)")
    var wk = words.select(col("w"), lit(1L).as("pos"),
      length(col("w")).cast("long").as("len"))
    var seg: DataFrame = null
    for (_ <- 1 to Unigram.MaxLen) {
      val active = wk.filter(col("pos") <= col("len"))
      val step = ckptFresh(active
        .select(col("w"), col("pos"), col("len"),
          explode(sequence(lit(1L),
            least(lit(Unigram.MaxPiece.toLong),
              col("len") - col("pos") + 1))).as("l"))
        .withColumn("piece", expr("substring(w, pos, l)"))
        .join(v, Seq("piece"))
        .groupBy(col("w"), col("pos"), col("len"))
        .agg(max(col("l")).as("l"))
        .select(col("w"), col("pos"), col("len"), col("l"),
          expr("substring(w, pos, l)").as("piece")))
      seg = if (seg == null) step else seg.unionByName(step)
      wk = step.select(col("w"), (col("pos") + col("l")).as("pos"),
        col("len"))
    }
    seg.select(col("w"), col("pos"), col("piece"))
  }

  /** Oracle WITH-clause tail replaying [[encode]] over the unigram
    * pyramid: assumes the CTEs of [[Unigram.oracleCtes]] are in scope
    * (`wf` for the word list, `v${Unigram.EmRounds}` for the trained
    * pieces) and yields `wpseg` (w, pos, piece) — the greedy rounds
    * unrolled, MATERIALIZED per round (the pyramid contract).
    */
  def segOracleCtes: String = {
    val v = s"v${Unigram.EmRounds}"
    val rounds = (1 to Unigram.MaxLen).map { r =>
      s"""wpc$r AS MATERIALIZED (
         |  SELECT k.w, k.pos, k.len, MAX(length(v.piece)) AS l
         |  FROM wp${r - 1} k JOIN $v v
         |    ON length(v.piece) <= k.len - k.pos + 1
         |   AND v.piece = substr(k.w, CAST(k.pos AS INTEGER),
         |                        length(v.piece))
         |  WHERE k.pos <= k.len
         |  GROUP BY k.w, k.pos, k.len
         |), wps$r AS MATERIALIZED (
         |  SELECT w, pos,
         |         substr(w, CAST(pos AS INTEGER), CAST(l AS INTEGER)) AS piece,
         |         l, len
         |  FROM wpc$r
         |), wp$r AS (SELECT w, pos + l AS pos, len FROM wps$r)""".stripMargin
    }
    val u = (1 to Unigram.MaxLen)
      .map(r => s"SELECT w, pos, piece FROM wps$r")
      .mkString(" UNION ALL ")
    s"""wp0 AS (
       |  SELECT w, CAST(1 AS BIGINT) AS pos,
       |         CAST(length(w) AS BIGINT) AS len
       |  FROM wf
       |),
       |${rounds.mkString(",\n")},
       |wpseg AS MATERIALIZED ($u)""".stripMargin
  }
}
