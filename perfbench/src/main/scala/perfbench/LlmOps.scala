package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.SparkEntry
import graft.queries.{DedupQueries, EventQueries, ExtraQueries, GraphQueries, Quantizer, TextQueries}

/** Order-independent fingerprint of a result: row count plus the exact sum
  * of a 64-bit hash of every row, columns taken in name order (the column
  * order the oracle compare uses).
  */
object Fingerprint {
  def columns(df: DataFrame): Seq[Column] = {
    val cols = df.columns.sorted.map(c => col(s"`$c`")).toSeq
    Seq(count(lit(1)), sum(xxhash64(cols: _*).cast(DecimalType(38, 0))))
  }

  /** `row<TAB>rows<TAB>hash-sum<TAB>check`, one line per query row. */
  def read(file: Path): Map[String, (Long, BigDecimal, String)] =
    Files.readAllLines(file).asScala.filterNot(l => l.startsWith("#") || l.isBlank).map { l =>
      val Array(row, n, h, kind) = l.split('\t')
      row -> (n.toLong, BigDecimal(h), kind)
    }.toMap
}

/** The LLM-ops mix: every memo evicted, the t00 prelude rebuilt (each
  * part timed), then a fixed set of `SparkEntry.queries` rows in a
  * seed-permuted order, each result checked against its fingerprint.
  */
final class LlmOps(ctx: Ctx, dataDir: Path, expectedFile: Path) extends Workload {
  import ctx._
  private val dir = dataDir.toString
  private val Rows = Seq("t14_bigram_typicality", "t15_bpe_merges",
    "e26_stream_right_outer_join", "q02_group_count")
  private val order = new scala.util.Random(seed).shuffle(Rows)
  System.err.println(s"[perfbench] row order: ${order.mkString(" ")}")
  private val expected = Fingerprint.read(expectedFile)
  private var docIds: IndexedSeq[Long] = _

  /** The tables the mix reads: documents (t00, t14, t15), events (e26)
    * and orders (q02). The data directory holds only these.
    */
  private val ReadTables = Seq("documents", "events", "orders")

  def inputBytes: Long = ReadTables.map(t => Files.size(dataDir.resolve(s"$t.parquet"))).sum

  def setupRep(rep: Int): Unit = {
    docIds = spark.read.parquet(s"$dir/documents.parquet").select("doc_id")
      .collect().map(_.getLong(0)).toIndexedSeq.sorted
    require(Rows.forall(expected.contains), s"$expectedFile lacks a row of the mix")
  }

  private def evictAll(): Unit = {
    DedupQueries.evictAll(spark)
    Quantizer.evictAll(spark)
    TextQueries.evictAll(spark)
    EventQueries.evictAll(spark)
    ExtraQueries.evictAll(spark)
    GraphQueries.evictAll(spark)
    spark.catalog.clearCache()
  }

  def warmUp(): Unit = pass(new Ops)

  def pass(op: Ops): Unit = {
    evictAll()
    TextQueries.prewarmParts(spark, dir).foreach { case (part, build) =>
      op(s"t00.$part")(trace.span(s"queries.t00.$part", "queries.t00")(build()))
    }
    order.foreach { row =>
      val short = row.takeWhile(_ != '_')
      val key = s"queries.$short"
      op(row) {
        trace.span(key, key, metric = s"$key.ms") {
          val df = SparkEntry.queries(row)(spark, dir)
          val r = run(key, df, Fingerprint.columns(df))
          val (n, h, _) = expected(row)
          expect(s"$row rows", r.getLong(0), n)
          expect(s"$row fingerprint", BigDecimal(r.getDecimal(1)), h)
        }
      }
    }
  }

  /** A point read of one document by id. */
  def lookup(i: Int, op: Ops): Long = op("lookup") {
    val id = docIds(new java.util.SplittableRandom(seed * 7919L + i).nextInt(docIds.size))
    trace.span("io.lookup", "io.lookup") {
      val n = spark.read.parquet(s"$dir/documents.parquet")
        .filter(col("doc_id") === id).count()
      expect(s"document $id rows", n, 1L)
      n
    }
  }

  override def close(): Unit = evictAll()
}
