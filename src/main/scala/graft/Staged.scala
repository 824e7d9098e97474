package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.jdk.CollectionConverters._

/** The staging registry: the expensive inputs several gates share (the
  * co-purchase graph and its doubled forms, the basket pair stream, the
  * trained BPE/unigram/WordPiece state, the format round-trip files, the
  * built Delta and Iceberg fixtures) are built once and reused by every
  * gate, by the bench's repeated runs and by Verify.
  *
  * Every entry keeps one discipline:
  *  - built once per (applicationId, dir, name): a restarted SparkContext
  *    has a new applicationId, so it rebuilds and can never see a stale
  *    RDD handle;
  *  - eager: the build materializes what it returns (a persisted and
  *    counted frame, an eager local checkpoint, files on disk), so the
  *    bench can time staging apart from the gates that read it;
  *  - never mutated after build: a fixture that changes a table
  *    (compaction, vacuum, restore, a new ref) builds its own fresh copy.
  *
  * Each key owns a once-cell and the build runs under that cell's lock
  * only, so a build may read other staged entries. Concurrent callers of
  * one key wait for the one build; a build that throws is not cached and
  * the next call retries it.
  */
private[graft] object Staged {

  /** One finished build; `selfSeconds` excludes nested staged builds. */
  final case class Build(appId: String, dir: String, name: String,
                         selfSeconds: Double)

  private final class Cell {
    @volatile var value: AnyRef = _
    var building = false
  }

  private val cells =
    new java.util.concurrent.ConcurrentHashMap[(String, String, String), Cell]()
  private val log = new java.util.concurrent.ConcurrentLinkedQueue[Build]()
  // per thread, innermost first: nanos each open build spent in nested ones
  private val nested = ThreadLocal.withInitial[List[Array[Long]]](() => Nil)

  def apply[T <: AnyRef](s: SparkSession, dir: String, name: String)
                        (build: => T): T =
    at(s.sparkContext.applicationId, dir, name)(build)

  /** A staged frame kept as the compressed columnar cache (`persist`),
    * counted so the build is paid here.
    */
  def frame(s: SparkSession, dir: String, name: String)
           (df: => DataFrame): DataFrame =
    apply(s, dir, name) { val d = df.persist(); d.count(); d }

  /** Every build finished so far, in completion order. */
  def builds: Seq[Build] = log.asScala.toSeq

  /** [[apply]] keyed by an explicit application id. */
  def at[T <: AnyRef](appId: String, dir: String, name: String)
                     (build: => T): T = {
    val cell = cells.computeIfAbsent((appId, dir, name), _ => new Cell)
    if (cell.value == null) cell.synchronized {
      if (cell.value == null) {
        require(!cell.building, s"staged entry $name ($dir) depends on itself")
        cell.building = true
        val inner = Array(0L)
        nested.set(inner :: nested.get)
        val t0 = System.nanoTime()
        var elapsed = 0L
        try cell.value = build
        finally {
          elapsed = System.nanoTime() - t0
          nested.set(nested.get.tail)
          nested.get.headOption.foreach(_(0) += elapsed)
          cell.building = false
        }
        log.add(Build(appId, dir, name, (elapsed - inner(0)) / 1e9))
      }
    }
    cell.value.asInstanceOf[T]
  }
}
