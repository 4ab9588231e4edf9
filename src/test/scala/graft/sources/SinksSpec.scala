package graft.sources

import graft.{Tables, TestSpark}
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

class SinksSpec extends AnyFunSuite with TestSpark.TempDirs {

  private lazy val spark = TestSpark.spark

  private def parquetFiles(dir: String): Seq[String] =
    Files
      .walk(Paths.get(dir))
      .iterator()
      .asScala
      .map(_.toString)
      .filter(p => p.endsWith(".parquet") && !p.contains("_SUCCESS"))
      .toSeq

  test("writePartitioned lays out hive partitions with bounded sorted files") {
    val out = tempDir("sinks") + "/docs"
    val docs = Tables.documents(spark, TestSpark.sfDir)
    Sinks.writePartitioned(docs, out, Seq("lang"), Seq("doc_id"), filesPerPartition = 2)

    val langs = docs.select("lang").distinct().collect().map(_.getString(0)).toSet
    val dirs = Files.list(Paths.get(out)).iterator().asScala.map(_.getFileName.toString).toSet
    langs.foreach(l => assert(dirs.contains(s"lang=$l"), s"missing partition dir for $l"))

    // round-trips completely
    assert(spark.read.parquet(out).count() === docs.count())

    // bounded file count per partition value
    langs.foreach { l =>
      val files = parquetFiles(s"$out/lang=$l")
      assert(files.nonEmpty && files.size <= 2, s"lang=$l has ${files.size} files")
    }

    // rows are sorted by the sort key within every physical file
    val aFile = parquetFiles(s"$out/lang=${langs.head}").head
    val ids = spark.read.parquet(aFile).select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(ids === ids.sorted, "rows inside a file must be sorted by doc_id")
  }

  test("partition-col filters prune to the matching directory on read-back") {
    val out = tempDir("sinks") + "/docs"
    Sinks.writePartitioned(
      Tables.documents(spark, TestSpark.sfDir),
      out,
      Seq("lang"),
      Seq("doc_id")
    )
    val scanned = spark.read.parquet(out).filter(col("lang") === "en")
    // collect() drives scanned's OWN queryExecution, populating its scan
    // metrics (count() would plan and execute a separate query)
    assert(scanned.collect().length > 0)
    // inputFiles reports the pre-pruning listing; the executed scan's
    // metrics show what partition pruning actually kept
    val scan = scanned.queryExecution.executedPlan
      .collectFirst { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
      .getOrElse(fail("no FileSourceScanExec in plan"))
    assert(scan.metrics("numPartitions").value === 1, "scan must prune to the single lang=en dir")
  }

  test("writeMetricsJson emits parseable JSON even for non-finite metric values") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val dir = tempDir("sinks-metrics")
    val schema = StructType(Seq(
      StructField("n", LongType),
      StructField("ratio", DoubleType),
      StructField("bad_nan", DoubleType),
      StructField("bad_inf", DoubleType)
    ))
    val row = new org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema(
      Array[Any](7L, 0.5, Double.NaN, Double.PositiveInfinity), schema)
    Sinks.writeMetricsJson(spark, dir, Map("graft.test" -> (row: Row)))
    val text = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(dir, "_metrics.json")), "UTF-8")
    // bare NaN/Infinity is not JSON; non-finite doubles must serialize null
    assert(text.contains("\"n\":7") && text.contains("\"ratio\":0.5"), text)
    assert(text.contains("\"bad_nan\":null") && text.contains("\"bad_inf\":null"), text)
    import spark.implicits._
    val strict = spark.read.option("mode", "FAILFAST").json(Seq(text).toDS())
    assert(strict.collect().length === 1, "a strict JSON parse must accept the file")
  }

  test("compact collapses a fragmented directory and round-trips the data") {
    val base = tempDir("sinks")
    val docs = Tables.documents(spark, TestSpark.sfDir)
    // fragment: one file per shuffle partition
    docs.repartition(24).write.parquet(s"$base/frag")
    val before = parquetFiles(s"$base/frag").size
    assert(before >= 20, s"fixture should fragment, got $before files")
    val result = Sinks.compact(spark, s"$base/frag", s"$base/compact", targetFileBytes = 1L << 30)
    assert(result.nOutputFiles === 1, s"everything fits one 1GiB-target file, got $result")
    // the returned snapshot is exactly the fragmented input the rewrite read
    assert(result.inputFiles === parquetFiles(s"$base/frag").map(p => Paths.get(p).getFileName.toString).toSet)
    assert(spark.read.parquet(s"$base/compact").count() === docs.count())
  }

  test("re-running the write produces the same deterministic file assignment") {
    val base = tempDir("sinks")
    val docs = Tables.documents(spark, TestSpark.sfDir)
    Sinks.writePartitioned(docs, s"$base/a", Seq("lang"), Seq("doc_id"), filesPerPartition = 2)
    Sinks.writePartitioned(docs, s"$base/b", Seq("lang"), Seq("doc_id"), filesPerPartition = 2)
    def sig(dir: String): Map[String, Long] =
      spark.read
        .parquet(dir)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n"), sum(col("doc_id")).as("s"))
        .collect()
        .map(r => r.getString(0) -> (r.getLong(1) + r.getLong(2)))
        .toMap
    assert(sig(s"$base/a") === sig(s"$base/b"))
  }

  test("writeRangeSorted gives every file a disjoint slice of the key") {
    val out  = tempDir("sinks") + "/ranged"
    val docs = Tables.documents(spark, TestSpark.sfDir)
    Sinks.writeRangeSorted(docs, out, "doc_id", nFiles = 4)

    val files = parquetFiles(out)
    assert(files.size >= 3, s"range partitioner should spread files, got ${files.size}")
    val ranges = files.map { f =>
      val r = spark.read.parquet(f).agg(min(col("doc_id")), max(col("doc_id"))).collect()(0)
      (r.getLong(0), r.getLong(1))
    }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Seq((_, hi), (lo2, _)) => assert(hi < lo2, s"file ranges overlap: hi=$hi lo2=$lo2")
      case _                      =>
    }
    assert(spark.read.parquet(out).count() === docs.count())
  }

  test("zorderKey interleaves bits and orders curve-adjacent points together") {
    import spark.implicits._
    val out = Seq((0L, 0L), (1L, 0L), (0L, 1L), (1L, 1L), (2L, 2L), (3L, 3L))
      .toDF("x", "y")
      .select(col("x"), col("y"), Sinks.zorderKey(col("x"), col("y"), bits = 4).as("z"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    // Morton codes: z(x,y) interleaves x bits at even, y at odd positions
    assert(out((0L, 0L)) === 0L)
    assert(out((1L, 0L)) === 1L)
    assert(out((0L, 1L)) === 2L)
    assert(out((1L, 1L)) === 3L)
    assert(out((2L, 2L)) === 12L)
    assert(out((3L, 3L)) === 15L)
  }

  test("n-dim zorderKey round-trips: de-interleaving bit n*i+j recovers dimension j") {
    import spark.implicits._
    val rows = Seq((1L, 2L, 3L), (7L, 0L, 5L), (15L, 15L, 15L), (0L, 0L, 0L), (9L, 4L, 11L))
      .toDF("a", "b", "c")
      .select(
        col("a"), col("b"), col("c"),
        Sinks.zorderKey(Seq(col("a"), col("b"), col("c")), bits = 4).as("z")
      )
      .collect()
    rows.foreach { r =>
      val z = r.getLong(3)
      def deinterleave(j: Int) = (0 until 4).map(i => ((z >> (3 * i + j)) & 1L) << i).sum
      Seq(0, 1, 2).foreach { j =>
        assert(deinterleave(j) === r.getLong(j), s"dim $j of z=$z must round-trip")
      }
    }
  }

  test("compact layouts: sortCols gives disjoint per-file key ranges, zorderCols bounds every listed dimension") {
    import spark.implicits._
    val base = tempDir("sinks")
    val grid = (0 until 64).flatMap(x => (0 until 64).map(y => (x.toLong, y.toLong))).toDF("x", "y")
    grid.repartition(24).write.parquet(s"$base/frag") // fragmented source

    val sorted = Sinks.compact(spark, s"$base/frag", s"$base/sorted", targetFileBytes = 4096, sortCols = Seq("x"))
    assert(sorted.nOutputFiles >= 3, s"sizing should spread files, got ${sorted.nOutputFiles}")
    val ranges = parquetFiles(s"$base/sorted").map { f =>
      val r = spark.read.parquet(f).agg(min(col("x")), max(col("x")), count(lit(1))).collect()(0)
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }.filter(_._3 > 0).map(t => (t._1, t._2)).sortBy(_._1)
    ranges.sliding(2).foreach {
      case Seq((_, hi), (lo2, _)) => assert(hi <= lo2, s"file key ranges overlap: hi=$hi lo2=$lo2")
      case _                      =>
    }

    // z-order: per-file y-span bounded, where the x-sorted layout spans ~all of y
    Sinks.compact(spark, s"$base/frag", s"$base/z", targetFileBytes = 4096,
      zorderCols = Seq("x", "y"), zorderBits = 6)
    def meanYSpan(dir: String): Double = {
      val spans = parquetFiles(dir).map { f =>
        val r = spark.read.parquet(f).agg(min(col("y")), max(col("y")), count(lit(1))).collect()(0)
        if (r.getLong(2) == 0) -1.0 else (r.getLong(1) - r.getLong(0)).toDouble
      }.filter(_ >= 0)
      spans.sum / spans.size
    }
    assert(meanYSpan(s"$base/z") < meanYSpan(s"$base/sorted") * 0.6,
      s"z-ordered compaction must bound y: ${meanYSpan(s"$base/z")} vs x-sorted ${meanYSpan(s"$base/sorted")}")
    assert(spark.read.parquet(s"$base/z").collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq ===
      grid.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq, "content round-trips")
  }

  test("z-ordered layout SKIPS data under a two-dimension filter: the scan materializes a fraction of what an unsorted layout reads") {
    import spark.implicits._
    // 128x128 uniform grid; 32 files each way -> 512 rows per file, one row
    // group per file, so parquet footer min/max stats ARE the skipping unit
    val grid = (0 until 128).flatMap(x => (0 until 128).map(y => (x.toLong, y.toLong))).toDF("x", "y")
    val base = tempDir("sinks")
    Sinks.writeZOrdered(grid, s"$base/z", col("x"), col("y"), nFiles = 32, bits = 7)
    grid.repartition(32).write.parquet(s"$base/shuffled") // same file count, no layout

    // corner box: 16x16 = 256 of 16384 rows, constraining BOTH dimensions
    def scannedRows(dir: String): (Long, Long) = {
      val q = spark.read.parquet(dir).filter(col("x").between(0, 15) && col("y").between(112, 127))
      val kept = q.collect().length.toLong
      val scan = q.queryExecution.executedPlan
        .collectFirst { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
        .getOrElse(fail("no FileSourceScanExec in plan"))
      // the range predicates must reach the parquet reader, or nothing skips
      assert(scan.metadata("PushedFilters").contains("GreaterThanOrEqual(x,0)"),
        s"filters must push down: ${scan.metadata("PushedFilters")}")
      (scan.metrics("numOutputRows").value, kept)
    }
    val (zScanned, zKept) = scannedRows(s"$base/z")
    val (uScanned, uKept) = scannedRows(s"$base/shuffled")
    assert(zKept === 256L && uKept === 256L, "both layouts answer identically")
    // round-robin files span the full range of both columns, so their row
    // groups' stats can never exclude the box — every row materializes
    assert(uScanned === 16384L, s"unsorted layout must read everything, read $uScanned")
    // z-ordered files cover small (x, y) boxes; footer stats exclude all but
    // the files overlapping the query box — this is the 100 TB win the
    // layout exists for, asserted on the scan's own metrics
    assert(zScanned <= uScanned / 8,
      s"z-ordered scan must materialize <= 1/8 of the unsorted scan, got $zScanned vs $uScanned")
  }

  test("z-ordered files bound BOTH dimensions where single-key sort spans one") {
    import spark.implicits._
    // a uniform 64x64 grid: every (x, y) cell once
    val grid = (0 until 64).flatMap(x => (0 until 64).map(y => (x.toLong, y.toLong))).toDF("x", "y")
    val base = tempDir("sinks")

    Sinks.writeZOrdered(grid, s"$base/z", col("x"), col("y"), nFiles = 16, bits = 6)
    Sinks.writeRangeSorted(grid, s"$base/x", "x", nFiles = 16)

    def meanYSpan(dir: String): Double = {
      val spans = parquetFiles(dir).map { f =>
        val r = spark.read.parquet(f).agg(min(col("y")), max(col("y"))).collect()(0)
        (r.getLong(1) - r.getLong(0)).toDouble
      }
      spans.sum / spans.size
    }
    // x-sorted files each span (nearly) the full y range; z-ordered files
    // cover a bounding box ~1/4 of it — that bound is what lets a filter on
    // y skip files in a layout keyed for x lookups too
    val zy = meanYSpan(s"$base/z")
    val xy = meanYSpan(s"$base/x")
    assert(zy < xy * 0.6, s"z-order mean y-span $zy should be well under x-sort's $xy")
    assert(spark.read.parquet(s"$base/z").count() === grid.count())
  }
}
