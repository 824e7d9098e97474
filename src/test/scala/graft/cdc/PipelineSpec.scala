package graft.cdc

import graft.SparkTestSession
import graft.TempDirs.withTempDir
import graft.sources.DeltaLog
import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Drives the full replication loop across two incremental runs — the
  * scenario the reference pipeline exists for.
  */
class PipelineSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  // source state: customers (parent) + orders (child) with CDC columns
  private def customers(rows: Seq[(Long, String, String, Option[String], String)]): DataFrame =
    rows.toDF("id", "name", "c", "u", "is_deleted")
      .select(col("id"), col("name"),
        col("c").cast("timestamp").as("created_at"),
        col("u").cast("timestamp").as("updated_at"),
        col("is_deleted"))

  val specs = Seq(
    Pipeline.TableSpec("cust", Seq("id")),
    Pipeline.TableSpec("ord", Seq("id")))
  val edges = Seq("cust" -> "ord")

  test("two incremental runs converge the replica and advance watermarks") {
    withTempDir("graft_pipe") { dir =>
      def read(t: String) = DeltaLog.read(spark, s"$dir/$t")

      // ── run 1: initial full load ──
      val src1 = Map(
        "cust" -> customers(Seq(
          (1L, "alice", "2024-01-01 00:00:00", None, "N"),
          (2L, "bob", "2024-01-02 00:00:00", None, "N"))),
        "ord" -> customers(Seq(
          (10L, "o-alice", "2024-01-03 00:00:00", None, "N"))))
      val (rep1, wm1) = Pipeline.replicateDelta(spark, specs, edges, src1(_),
        dir.toString, Map.empty)
      assert(rep1.processed == 2 && rep1.failed == 0)
      assert(read("cust").count() == 2)
      assert(wm1("cust") == ts("2024-01-02 00:00:00"))
      // parents load before children
      assert(rep1.results.map(_.table) == Seq("cust", "ord"))

      // ── run 2: update, insert, soft delete, and one unchanged table ──
      val src2 = Map(
        "cust" -> customers(Seq(
          (1L, "alice", "2024-01-01 00:00:00", None, "N"),                       // unchanged (pre-watermark)
          (2L, "bob2", "2024-01-02 00:00:00", Some("2024-02-01 00:00:00"), "N"), // update
          (3L, "carol", "2024-02-02 00:00:00", None, "N"),                       // insert
          (1L, "alice", "2024-01-01 00:00:00", Some("2024-02-03 00:00:00"), "Y"))), // soft delete (new version row)
        "ord" -> src1("ord")) // no changes
      val (rep2, wm2) = Pipeline.replicateDelta(spark, specs, edges, src2(_),
        dir.toString, wm1)
      assert(rep2.processed == 1 && rep2.noChanges == 1)
      val cust = read("cust").orderBy("id")
        .select("id", "name", "is_deleted").as[(Long, String, String)].collect().toSeq
      assert(cust == Seq((1L, "alice", "Y"), (2L, "bob2", "N"), (3L, "carol", "N")))
      assert(wm2("cust") == ts("2024-02-03 00:00:00"))
      assert(wm2("ord") == wm1("ord")) // untouched watermark survives
    }
  }

  test("the FK scheduler: parents first, independent roots together, failures isolated, cycles last") {
    import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
    // roots a, b and f (f's source fails); c <- a; d <- a, b; g <- f;
    // x <-> y form an FK cycle under b
    val names = Seq("a", "b", "c", "d", "f", "g", "x", "y")
    val sSpecs = names.map(n => Pipeline.TableSpec(n, Seq("id")))
    val sEdges = Seq("a" -> "c", "a" -> "d", "b" -> "d", "f" -> "g",
      "b" -> "x", "x" -> "y", "y" -> "x")
    val src = names.zipWithIndex.map { case (n, i) =>
      n -> customers(Seq((i.toLong, n, s"2024-01-0${i + 1} 00:00:00", None, "N")))
    }.toMap
    val fWatermark = ts("2023-12-31 00:00:00")
    // the rows each write step was handed, its start and end times, the
    // caller's local property as it sees it, and a latch both
    // independent roots must reach
    val written = new ConcurrentHashMap[String, Seq[Row]]()
    val spans = new ConcurrentHashMap[String, (Long, Long)]()
    val seenProp = new ConcurrentHashMap[String, String]()
    val roots = new CountDownLatch(2)
    val rootsMet = new ConcurrentHashMap[String, java.lang.Boolean]()
    def write(spec: Pipeline.TableSpec, staged: DataFrame): Unit = {
      val t = spec.name
      val t0 = System.nanoTime()
      seenProp.put(t, String.valueOf(spark.sparkContext.getLocalProperty("graft.spec.caller")))
      if (t == "a" || t == "b") {
        roots.countDown()
        rootsMet.put(t, roots.await(60, TimeUnit.SECONDS))
      }
      written.put(t, staged.orderBy("id").collect().toSeq)
      spans.put(t, (t0, System.nanoTime()))
    }
    spark.sparkContext.setLocalProperty("graft.spec.caller", "pipeline-spec")
    val (rep, wm) = try Pipeline.replicateScheduled(spark, sSpecs, sEdges,
        t => if (t == "f") throw new RuntimeException("boom: f unavailable") else src(t),
        Map("f" -> fWatermark))(write)
      finally spark.sparkContext.setLocalProperty("graft.spec.caller", null)

    // results in TopoSort.order; every table but f processed
    assert(rep.results.map(_.table) == TopoSort.order(names, sEdges))
    assert(rep.results.map(r => r.table -> r.status).toMap ==
      names.map(n => n -> (if (n == "f") "failed" else "processed")).toMap)
    // the failed parent keeps its own watermark; the rest advance to their
    // one row's change ts
    assert(rep.results.find(_.table == "f").get.newWatermark == Some(fWatermark))
    assert(wm == names.zipWithIndex.map { case (n, i) =>
      n -> (if (n == "f") fWatermark else ts(s"2024-01-0${i + 1} 00:00:00"))
    }.toMap)
    for (n <- names.filter(_ != "f"))
      assert(written.get(n) == src(n).collect().toSeq, n)
    // the two independent roots were in their write steps at the same time
    assert(rootsMet.get("a") && rootsMet.get("b"), rootsMet)
    // a child starts only after all its parents have ended (f wrote nothing)
    for ((p, c) <- sEdges if p != "f" && !Set(p, c).subsetOf(Set("x", "y")))
      assert(spans.get(p)._2 < spans.get(c)._1, s"$p -> $c")
    // FK-cycle tables start after every acyclic table, one at a time
    val acyclicEnd = Seq("a", "b", "c", "d", "g").map(spans.get(_)._2).max
    assert(acyclicEnd < spans.get("x")._1 && spans.get("x")._2 < spans.get("y")._1)
    // every step saw the caller's local property
    assert(seenProp.asScala.toMap == names.filter(_ != "f").map(_ -> "pipeline-spec").toMap)
    // per-table timing: a child started after its parent's step ended
    val timing = rep.results.map(r => r.table -> (r.started, r.seconds)).toMap
    assert(timing.values.forall { case (s, w) => s >= 0 && w > 0 }, timing)
    assert(timing("a")._1 + timing("a")._2 <= timing("c")._1, timing)
  }

  test("the FK scheduler rethrows a fatal error only after the steps in flight end") {
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    val bStarted = new CountDownLatch(1)
    @volatile var aEnded = false
    val src = customers(Seq((1L, "a", "2024-01-01 00:00:00", None, "N")))
    intercept[NotImplementedError] {
      Pipeline.replicateScheduled(spark, Seq("a", "b").map(n => Pipeline.TableSpec(n, Seq("id"))), Nil,
        t => if (t == "b") { bStarted.countDown(); throw new NotImplementedError("b") } else src,
        Map.empty) { (_, staged) =>
          bStarted.await(60, TimeUnit.SECONDS)
          Thread.sleep(200)
          staged.collect()
          aEnded = true
        }
    }
    assert(aEnded, "a step in flight outlived the call")
  }

  test("schema evolution: source adds a column mid-stream; target backfills nulls") {
    withTempDir("graft_pipe3") { dir =>
      val onlyCust = Seq(Pipeline.TableSpec("cust", Seq("id")))
      val src1 = Map("cust" -> customers(Seq(
        (1L, "alice", "2024-01-01 00:00:00", None, "N"))))
      val (_, wm1) = Pipeline.replicateDelta(spark, onlyCust, Nil, src1(_), dir.toString, Map.empty)

      // run 2: source gained a `tier` column
      val src2 = customers(Seq(
        (2L, "bob", "2024-02-01 00:00:00", None, "N")))
        .withColumn("tier", lit("gold"))
      val (rep2, _) = Pipeline.replicateDelta(spark, onlyCust, Nil, _ => src2, dir.toString, wm1)
      assert(rep2.processed == 1)
      val got = DeltaLog.read(spark, s"$dir/cust").orderBy("id")
        .select("id", "name", "tier").as[(Long, String, Option[String])].collect().toSeq
      assert(got == Seq((1L, "alice", None), (2L, "bob", Some("gold"))))
    }
  }

  test("a failing table is isolated; the run continues (reference :348-352)") {
    withTempDir("graft_pipe2") { dir =>
      val src: String => DataFrame = {
        case "cust" => customers(Seq((1L, "a", "2024-01-01 00:00:00", None, "N")))
        case "ord"  => throw new RuntimeException("boom: source unavailable")
      }
      val (rep, wm) = Pipeline.replicateDelta(spark, specs, edges, src, dir.toString, Map.empty)
      assert(rep.processed == 1 && rep.failed == 1)
      assert(rep.results.find(_.table == "ord").get.error.get.contains("boom"))
      assert(wm.contains("cust") && !wm.contains("ord"))
    }
  }

  test("a failure with a null message still yields a writable run report") {
    withTempDir("graft_pipe_nullmsg") { dir =>
      val src: String => DataFrame = {
        case "cust" => customers(Seq((1L, "a", "2024-01-01 00:00:00", None, "N")))
        case "ord"  => throw new IllegalStateException()
      }
      val (rep, _) = Pipeline.replicateDelta(spark, specs, edges, src, s"$dir/lake", Map.empty)
      val err = rep.results.find(_.table == "ord").get.error
      assert(err == Some("java.lang.IllegalStateException"), err)
      val f = Pipeline.writeRunReport(rep, s"$dir/runlog")
      val lines = {
        val s = scala.io.Source.fromFile(f); try s.getLines().toVector finally s.close()
      }
      assert(lines.size == 3)
      val json = new com.fasterxml.jackson.databind.ObjectMapper()
      assert(json.readTree(lines(1)).get("error").asText() == "java.lang.IllegalStateException")
      lines.foreach(json.readTree)
    }
  }

  test("Delta and Iceberg targets agree with the mergeSoftDelete reference") {
    import graft.sources.IcebergCatalog
    val run1 = Map(
      "cust" -> customers(Seq(
        (1L, "alice", "2024-01-01 00:00:00", None, "N"),
        (2L, "bob", "2024-01-02 00:00:00", None, "N"),
        (4L, "dave", "2024-01-03 00:00:00", None, "N"),
        (9L, "ghost", "2024-01-03 00:00:00", None, "Y"))), // tombstone of a never-loaded key
      "ord" -> customers(Seq(
        (10L, "o-alice", "2024-01-03 00:00:00", None, "N"),
        (11L, "o-bob", "2024-01-04 00:00:00", None, "N"))))
    val run2 = Map(
      "cust" -> run1("cust").unionByName(customers(Seq(
        (2L, "bob2", "2024-01-02 00:00:00", Some("2024-02-01 00:00:00"), "N"),  // update
        (2L, "bob3", "2024-01-02 00:00:00", Some("2024-02-02 00:00:00"), "N"),  // updated twice
        (1L, "alice", "2024-01-01 00:00:00", Some("2024-02-03 00:00:00"), "Y"), // soft delete
        (3L, "carol", "2024-02-02 00:00:00", None, "N"),                        // insert
        (8L, "eve", "2024-02-02 00:00:00", None, "Y")))),                      // tombstone, absent key
      "ord" -> run1("ord")) // unchanged
    val cols = Seq("id", "name", "created_at", "updated_at", "is_deleted")

    type Run = (Map[String, DataFrame], Map[String, Timestamp]) =>
      (Pipeline.RunReport, Map[String, Timestamp])
    def twoRuns(run: Run) = {
      val (r1, wm1) = run(run1, Map.empty)
      val (r2, wm2) = run(run2, wm1)
      (Seq(r1, r2).map(_.results.map(r => (r.table, r.status, r.rowsProcessed, r.newWatermark))),
        Seq(wm1, wm2))
    }
    def liveChecksums(read: String => DataFrame) = Seq("cust", "ord").map(t =>
      Cdc.tableChecksum(read(t).filter(col(Cdc.IsDeleted) === "N"), cols).head())

    // the reference replica: the live rows on the first load, then
    // Cdc.mergeSoftDelete of each staged batch into the kept state
    val reference = new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()
    val viaReference = twoRuns((src, wm) =>
      Pipeline.replicateScheduled(spark, specs, edges, src(_), wm) { (spec, staged) =>
        reference.put(spec.name, Option(reference.get(spec.name))
          .fold(staged.filter(col(Cdc.IsDeleted) === "N"))(Cdc.mergeSoftDelete(_, staged, spec.pk)))
      })
    withTempDir("graft_par_delta") { deltaDir =>
      withTempDir("graft_par_ice") { icebergDir =>
        val viaDelta = twoRuns((src, wm) =>
          Pipeline.replicateDelta(spark, specs, edges, src(_), deltaDir.toString, wm))
        val viaIceberg = twoRuns((src, wm) =>
          Pipeline.replicateIceberg(spark, specs, edges, src(_), icebergDir.toString, wm))

        val (reports, watermarks) = viaReference
        assert(reports(1) == Seq(
          ("cust", "processed", 5L, Some(ts("2024-02-03 00:00:00"))),
          ("ord", "no_changes", 0L, Some(ts("2024-01-04 00:00:00")))), reports)
        assert(watermarks(1) == Map(
          "cust" -> ts("2024-02-03 00:00:00"), "ord" -> ts("2024-01-04 00:00:00")))
        assert(viaDelta == viaReference)
        assert(viaIceberg == viaReference)

        val want = liveChecksums(reference.get)
        assert(want.map(_.getLong(0)) == Seq(3L, 2L)) // cust 2,3,4 and both orders live
        assert(liveChecksums(t => DeltaLog.read(spark, s"$deltaDir/$t")) == want)
        assert(liveChecksums(t => IcebergCatalog.read(spark, s"$icebergDir/$t")) == want)
      }
    }
  }

  test("writeRunReport persists a timestamped JSONL artifact per run") {
    withTempDir("graft_runlog") { runlog =>
      val dir = runlog.toString
      val rep = Pipeline.RunReport(Seq(
        Pipeline.TableResult("cust", "processed", 5,
          Some(java.sql.Timestamp.valueOf("2024-01-02 00:00:00")), started = 0.25, seconds = 3.5),
        Pipeline.TableResult("ord", "failed", 0, None,
          error = Some("boom: \"quoted\"\r\n\tline2"), started = 3.75, seconds = 0.0625)))
      val at = java.time.Instant.parse("2024-01-02T03:04:05Z")
      val f = Pipeline.writeRunReport(rep, dir, at)
      assert(f.getName == "cdc_run_20240102_030405_000000000.jsonl")
      val lines = {
        val s = scala.io.Source.fromFile(f); try s.getLines().toVector finally s.close()
      }
      assert(lines.size == 3)
      assert(lines(0).contains("\"table\":\"cust\"") && lines(0).contains("\"rows\":5"))
      // every control char escaped — the artifact must stay parseable JSONL
      assert(lines(1).contains("\\\"quoted\\\"") &&
        lines(1).contains("\\u000d\\u000a\\u0009"))
      assert(lines(2).contains("\"processed\":1") && lines(2).contains("\"failed\":1"))
      // per-table start (seconds from the run's start) and wall time
      val json = new com.fasterxml.jackson.databind.ObjectMapper()
      assert(lines.take(2).map(json.readTree).map(j =>
        (j.get("started").asDouble, j.get("seconds").asDouble)) == Seq((0.25, 3.5), (3.75, 0.063)))
      // runs in the SAME second land in distinct files (nanosecond field)
      val f2 = Pipeline.writeRunReport(rep, dir, at.plusNanos(1))
      assert(f2.exists() && f.exists() && f2.getName != f.getName)
    }
  }
}
