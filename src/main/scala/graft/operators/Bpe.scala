package graft.operators

import graft.PlanProbe.{CkptOps, ckptFresh}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** T34: true byte-pair-encoding tokenization — the trained-subword
  * counterpart of T1's whitespace counts, so every token-budget operator
  * (T9 packing, T21 top-p, T24–T26 mixtures) can budget in the units an
  * LLM actually consumes (the r6 verdict's top text gap: whitespace
  * budgets mis-size real batches 20–40%).
  *
  * The classic algorithm (Sennrich et al. 2016, "Neural Machine
  * Translation of Rare Words with Subword Units"): start from characters,
  * repeat `merges` times { count adjacent symbol pairs corpus-wide
  * (weighted by word frequency, overlaps included — the reference
  * implementation's get_stats), merge the argmax pair everywhere with
  * left-to-right non-overlapping replacement }. Applying the learned
  * merges in rank order to a training word replays exactly the per-round
  * replacements, so the training-end state IS the tokenization of every
  * in-vocabulary word — no separate apply pass for the training corpus.
  *
  * Spark-first shape — everything is VOCABULARY-sized, never corpus-sized:
  *  - the corpus is touched exactly twice: once to build the (word, freq)
  *    table, once at the end to join per-word subword counts back to
  *    documents (a broadcast join against the vocab — the corpus never
  *    shuffles);
  *  - training state is the flat (word, pos, symbol) table of the
  *    DISTINCT vocabulary — at 100 TB the vocabulary is millions of rows
  *    while the corpus is trillions, so the per-round cost is independent
  *    of data size;
  *  - each round is fully declarative: one lead() window for pair
  *    adjacency, one hash aggregate for weighted pair counts, a 1-row
  *    sentinel-guarded argmax that CROSS-JOINs back in (broadcast, one
  *    row — never a driver collect), two windows to resolve left-to-right
  *    overlap, one window to re-densify positions; per-round
  *    localCheckpoint bounds lineage (the house iterative-loop idiom).
  *
  * Determinism: the argmax tie-break is the total order (count desc,
  * left asc, right asc); overlap resolution takes candidate matches at
  * even offsets within each chain of consecutive candidates (chains only
  * form when left = right — "aaa" under a+a → "aa","a" — because a
  * candidate at p and p+1 forces s[p+1] = r = l). Both rules are pure
  * relational algebra, so a SQL engine replays the identical trajectory:
  * the oracle is the same loop unrolled as a chained-CTE pyramid.
  *
  * The empty-corpus / exhausted-pairs guard is a sentinel ('', '', -1)
  * unioned under the argmax: symbols are never empty, so a sentinel
  * "merge" is a no-op on the state and is filtered from the merges
  * output — both engines run the fixed round count with no driver-side
  * early exit (no data-dependent plan shape).
  */
object Bpe {

  /** One training round: (state, wordFreq, round) => (state', merge-row).
    * The merge-row is (mrank, l_sym, r_sym, cnt) — empty if the corpus
    * ran out of pairs (sentinel round).
    */
  private def round(st: DataFrame, wf: DataFrame, r: Int)
      : (DataFrame, DataFrame) = {
    val byW = Window.partitionBy(col("w")).orderBy(col("p"))
    val nx = st.withColumn("nxt", lead(col("s"), 1).over(byW))
    val pairs = nx.filter(col("nxt").isNotNull)
      .join(wf, Seq("w"))
      .groupBy(col("s").as("l"), col("nxt").as("r"))
      .agg(sum(col("freq")).as("cnt"))
    val sentinel = st.sparkSession.range(1)
      .select(lit("").as("l"), lit("").as("r"), lit(-1L).as("cnt"))
    val best = ckptFresh(pairs.unionByName(sentinel)
      .orderBy(col("cnt").desc, col("l"), col("r")).limit(1))
    // 1 row, materialized; reused by the apply join AND the merges output
    // candidate matches of the winning pair, then left-to-right overlap
    // resolution: even offsets within each consecutive-candidate chain
    val cd = nx.crossJoin(broadcast(best))
      .withColumn("cand", col("s") === col("l") && col("nxt").isNotNull &&
        col("nxt") === col("r"))
    val take = cd.filter(col("cand"))
      .withColumn("grp", col("p") - row_number().over(byW))
      .withColumn("off", col("p") - min(col("p")).over(
        Window.partitionBy(col("w"), col("grp"))))
      .filter(col("off") % 2 === 0)
      .select(col("w"), col("p"), lit(1).as("tk"))
    val st2 = cd
      .join(take.select(col("w"), col("p"), col("tk")), Seq("w", "p"), "left")
      .join(take.select(col("w"), (col("p") + 1).as("p"),
        col("tk").as("consumed")), Seq("w", "p"), "left")
      .filter(col("consumed").isNull)
      .select(col("w"), col("p"),
        when(col("tk").isNotNull, concat(col("l"), col("r")))
          .otherwise(col("s")).as("s"))
      .withColumn("p", (row_number().over(byW) - 1).cast("long"))
      .select(col("w"), col("p"), col("s"))
    val mg = best.filter(col("l") =!= "")
      .select(lit(r.toLong).as("mrank"), col("l").as("l_sym"),
        col("r").as("r_sym"), col("cnt").cast("long").as("cnt"))
    (ckptFresh(st2), mg)
  }

  // ------------------------------------------------------------------
  // Byte-level BPE (r11, T34b): the GPT-2 deployment shape — symbols
  // start from the UTF-8 BYTES of each word, mapped through the
  // public bytes→unicode table (Radford et al. 2019 bytes_to_unicode:
  // printable latin-1 bytes keep themselves, the 68 control/space
  // bytes borrow codepoints 256+i), so ANY string tokenizes with no
  // unknown tokens. The training loop is the identical relational
  // algebra over the byte alphabet — only st0 changes.
  // ------------------------------------------------------------------

  /** byte value (0–255) → its single-character symbol. */
  val bytesToUnicode: IndexedSeq[String] = {
    val keep = ((33 to 126) ++ (161 to 172) ++ (174 to 255)).toSet
    var n = -1
    (0 to 255).map { b =>
      if (keep(b)) b.toChar.toString
      else { n += 1; (256 + n).toChar.toString }
    }
  }

  /** Byte-level initial state (w, p, s): p indexes the UTF-8 byte, s is
    * its mapped symbol. Hex-pair extraction keeps the whole derivation
    * in codegen'd builtins (hex/substring/conv) + one 256-entry map
    * literal — no per-row UDF.
    */
  private def byteState(wf: DataFrame): DataFrame = {
    val bmap = map_from_arrays(
      array((0 to 255).map(b => lit(b)): _*),
      array((0 to 255).map(b => lit(bytesToUnicode(b))): _*))
    wf.select(col("w"), expr("hex(encode(w, 'UTF-8'))").as("h"))
      .select(col("w"), col("h"),
        explode(expr("sequence(1, CAST(length(h) / 2 AS INT))")).as("i"))
      .select(col("w"), (col("i") - 1).cast("long").as("p"),
        element_at(bmap,
          expr("CAST(conv(substring(h, i * 2 - 1, 2), 16, 10) AS INT)"))
          .as("s"))
  }

  /** Train `merges` BYTE-LEVEL merges — [[train]] with the byte-alphabet
    * initial state; same return shape.
    */
  def trainByteLevel(docs: DataFrame, text: Column, merges: Int)
      : (DataFrame, DataFrame) = {
    require(merges >= 1, s"merges must be >= 1, got $merges")
    val wf = wordFreq(docs, text).ckpt
    trainFrom(byteState(wf).ckpt, wf, merges)
  }

  /** The shared training loop over any initial symbol state. */
  private def trainFrom(st0: DataFrame, wf: DataFrame, merges: Int)
      : (DataFrame, DataFrame) = {
    var st = st0
    var mg: DataFrame = null
    for (r <- 1 to merges) {
      val (st2, m) = round(st, wf, r)
      st = st2
      mg = if (mg == null) m else mg.unionByName(m)
    }
    (mg.ckpt, st)
  }

  /** Space-pretokenized (word, freq) corpus vocabulary. */
  private def wordFreq(docs: DataFrame, text: Column): DataFrame =
    docs.select(explode(split(text, " ")).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))

  /** Character-level initial state (w, p, s) over the distinct vocab. */
  private def charState(wf: DataFrame): DataFrame =
    wf.select(col("w"), explode(expr("sequence(1, length(w))")).as("i"))
      .select(col("w"), (col("i") - 1).cast("long").as("p"),
        expr("substring(w, i, 1)").as("s"))

  /** Train `merges` BPE merges on the space-pretokenized corpus.
    *
    * @return (merges (mrank, l_sym, r_sym, cnt) in learning order,
    *         endState (w, p, s) — the trained segmentation of the vocab)
    */
  def train(docs: DataFrame, text: Column, merges: Int)
      : (DataFrame, DataFrame) = {
    require(merges >= 1, s"merges must be >= 1, got $merges")
    val wf = wordFreq(docs, text).ckpt
    trainFrom(charState(wf).ckpt, wf, merges)
  }

  /** The trained merges table alone, sorted by learning rank. */
  def trainMerges(docs: DataFrame, text: Column, merges: Int): DataFrame =
    train(docs, text, merges)._1.orderBy(col("mrank"))

  /** Per-document token accounting under the trained tokenizer:
    * (id, n_ws whitespace tokens, n_bpe trained-subword tokens). The
    * per-word subword counts (vocab-sized) broadcast into the corpus
    * join — the only corpus-sized stages are the split/explode and one
    * hash aggregate.
    */
  def tokenCounts(docs: DataFrame, id: Column, text: Column,
                  merges: Int): DataFrame = {
    val (_, endState) = train(docs, text, merges)
    val nSub = endState.groupBy(col("w")).agg(count(lit(1)).as("n_sub"))
    docs.select(id.as("doc_id"), explode(split(text, " ")).as("w"))
      .filter(col("w") =!= "")
      .join(broadcast(nSub), Seq("w"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_ws"), sum(col("n_sub")).as("n_bpe"))
  }

  // ------------------------------------------------------------------
  // Oracle SQL generation: the identical loop unrolled as chained CTEs.
  // DuckDB replays the same trajectory because every step is the same
  // relational algebra (deterministic argmax + window overlap rule).
  // Every CTE is MATERIALIZED: DuckDB 1.0 inlines plain CTEs at each
  // reference, and this pyramid references each round's tables 2-3x —
  // inlining expands the plan EXPONENTIALLY in the round count (the
  // un-materialized form dies at ~20 rounds on file handles alone).
  // ------------------------------------------------------------------

  /** WITH-clause body: wf, st0, and one (nx, pc, bs, cd, tk, st, mg)
    * block per round; the caller appends its own final SELECT.
    * `table` is the documents table name, `textCol` the text column.
    */
  def oracleCtes(table: String, textCol: String, merges: Int): String = {
    val base =
      s"""wf AS MATERIALIZED (
         |  SELECT w, COUNT(*) AS freq FROM (
         |    SELECT unnest(string_split($textCol, ' ')) AS w FROM $table
         |  ) WHERE w <> '' GROUP BY w
         |),
         |st0 AS MATERIALIZED (
         |  SELECT w, CAST(i - 1 AS BIGINT) AS p,
         |         substring(w, CAST(i AS INT), 1) AS s
         |  FROM (SELECT w, unnest(generate_series(1, length(w))) AS i FROM wf)
         |)""".stripMargin
    (base +: roundCtes(merges)).mkString(",\n")
  }

  /** Byte-level WITH-clause body (r11): same `wf` and round pyramid,
    * but st0 derives from the UTF-8 BYTES via hex pairs and the
    * 256-row bytes→unicode VALUES table — DuckDB replays the exact
    * alphabet the Spark trainer starts from.
    */
  def byteOracleCtes(table: String, textCol: String, merges: Int): String = {
    val bmRows = (0 to 255).map { b =>
      s"($b, '${bytesToUnicode(b).replace("'", "''")}')"
    }.mkString(",")
    val base =
      s"""wf AS MATERIALIZED (
         |  SELECT w, COUNT(*) AS freq FROM (
         |    SELECT unnest(string_split($textCol, ' ')) AS w FROM $table
         |  ) WHERE w <> '' GROUP BY w
         |),
         |bm AS MATERIALIZED (SELECT * FROM (VALUES $bmRows) AS t(bv, sym)),
         |st0 AS MATERIALIZED (
         |  SELECT q.w, CAST(q.i - 1 AS BIGINT) AS p, bm.sym AS s
         |  FROM (
         |    SELECT w, i,
         |      (strpos('0123456789ABCDEF', substring(h, CAST(i*2-1 AS INT), 1)) - 1) * 16
         |      + (strpos('0123456789ABCDEF', substring(h, CAST(i*2 AS INT), 1)) - 1) AS bv
         |    FROM (
         |      SELECT w, hex(encode(w)) AS h,
         |             unnest(generate_series(1, octet_length(encode(w)))) AS i
         |      FROM wf
         |    )
         |  ) q JOIN bm USING (bv)
         |)""".stripMargin
    (base +: roundCtes(merges)).mkString(",\n")
  }

  /** One (nx, pc, bs, cd, tk, st, mg) CTE block per round — shared by
    * the char-level and byte-level oracles (the loop is alphabet-blind).
    */
  private def roundCtes(merges: Int): Seq[String] = {
    (1 to merges).map { i =>
      s"""nx$i AS MATERIALIZED (
         |  SELECT w, p, s, lead(s) OVER (PARTITION BY w ORDER BY p) AS nxt
         |  FROM st${i - 1}
         |),
         |pc$i AS MATERIALIZED (
         |  SELECT n.s AS l, n.nxt AS r, SUM(f.freq) AS cnt
         |  FROM nx$i n JOIN wf f USING (w)
         |  WHERE n.nxt IS NOT NULL GROUP BY 1, 2
         |),
         |bs$i AS MATERIALIZED (
         |  SELECT l, r, cnt FROM (
         |    SELECT l, r, cnt FROM pc$i
         |    UNION ALL SELECT '', '', CAST(-1 AS BIGINT)
         |  ) ORDER BY cnt DESC, l, r LIMIT 1
         |),
         |cd$i AS MATERIALIZED (
         |  SELECT n.w, n.p, n.s, b.l, b.r,
         |         (n.s = b.l AND n.nxt IS NOT NULL AND n.nxt = b.r) AS cand
         |  FROM nx$i n CROSS JOIN bs$i b
         |),
         |tk$i AS MATERIALIZED (
         |  SELECT w, p FROM (
         |    SELECT w, p, p - MIN(p) OVER (PARTITION BY w, grp) AS off
         |    FROM (
         |      SELECT w, p, p - ROW_NUMBER() OVER (PARTITION BY w ORDER BY p) AS grp
         |      FROM cd$i WHERE cand
         |    )
         |  ) WHERE off % 2 = 0
         |),
         |st$i AS MATERIALIZED (
         |  SELECT w, CAST(ROW_NUMBER() OVER (PARTITION BY w ORDER BY p) - 1 AS BIGINT) AS p, s
         |  FROM (
         |    SELECT c.w, c.p,
         |           CASE WHEN t1.p IS NOT NULL THEN c.l || c.r ELSE c.s END AS s
         |    FROM cd$i c
         |    LEFT JOIN tk$i t1 ON t1.w = c.w AND t1.p = c.p
         |    LEFT JOIN tk$i t2 ON t2.w = c.w AND t2.p = c.p - 1
         |    WHERE t2.p IS NULL
         |  )
         |),
         |mg$i AS MATERIALIZED (
         |  SELECT CAST($i AS BIGINT) AS mrank, l AS l_sym, r AS r_sym,
         |         CAST(cnt AS BIGINT) AS cnt
         |  FROM bs$i WHERE l <> ''
         |)""".stripMargin
    }
  }

  /** Full oracle for [[trainMerges]]. */
  def mergesOracle(table: String, textCol: String, merges: Int): String = {
    val union = (1 to merges).map(i => s"SELECT * FROM mg$i")
      .mkString(" UNION ALL ")
    s"""WITH ${oracleCtes(table, textCol, merges)}
       |SELECT mrank, l_sym, r_sym, cnt FROM ($union) ORDER BY mrank""".stripMargin
  }

  /** Oracle CTE tail for per-word subword counts: `ns` (w, n_sub). */
  def nsubCte(merges: Int): String =
    s"ns AS MATERIALIZED (SELECT w, COUNT(*) AS n_sub FROM st$merges GROUP BY w)"

  /** Full oracle for [[tokenCounts]]. */
  def tokenCountsOracle(table: String, idCol: String, textCol: String,
                        merges: Int): String =
    s"""WITH ${oracleCtes(table, textCol, merges)},
       |${nsubCte(merges)},
       |dw AS MATERIALIZED (
       |  SELECT doc_id, w FROM (
       |    SELECT $idCol AS doc_id, unnest(string_split($textCol, ' ')) AS w
       |    FROM $table
       |  ) WHERE w <> ''
       |)
       |SELECT doc_id, COUNT(*) AS n_ws, CAST(SUM(n_sub) AS BIGINT) AS n_bpe
       |FROM dw JOIN ns USING (w) GROUP BY doc_id ORDER BY doc_id""".stripMargin
}
