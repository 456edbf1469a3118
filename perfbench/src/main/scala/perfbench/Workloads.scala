package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.cache.Downloader
import graft.loaders.{Metadata, Project}
import graft.locate.{EndpointConnector, Locators}
import graft.model.{Annotation, Dtype}
import graft.transform.Scale

/** An output that did not match what it must be. */
final class CheckFailed(msg: String) extends RuntimeException(msg)

/** What a workload needs from the run: the session, the trace, the work
  * directory, the core count and the seed.
  */
final case class Ctx(spark: SparkSession, trace: Trace, work: Path, cores: Int, seed: Long) {
  private var observed = 0

  /** Forces the plan, runs it once over every output row and returns the
    * observed check aggregates, all on ONE query execution: the plan is
    * built once, as in a real action, and split into `<span>.plan` and
    * `<span>.exec`.
    */
  def run(span: String, df: DataFrame, checks: Seq[Column]): Row = {
    observed += 1
    val name = s"check$observed"
    val obs = df.observe(name, checks.head, checks.tail: _*)
    val qe = obs.queryExecution
    trace.span(s"$span.plan")(qe.executedPlan)
    trace.span(s"$span.exec") {
      SQLExecution.withNewExecutionId(qe)(qe.toRdd.foreach(_ => ()))
    }
    qe.observedMetrics.getOrElse(name,
      throw new CheckFailed(s"$span: no observed check metrics"))
  }

  def expect(what: String, got: Any, want: Any): Unit =
    if (got != want) throw new CheckFailed(s"$what: got $got, want $want")

  def expectClose(what: String, got: Double, want: Double): Unit =
    if (!(math.abs(got - want) <= 1e-9 * math.max(1.0, math.abs(want))))
      throw new CheckFailed(s"$what: got $got, want $want")
}

/** A closed-loop workload: set-up, passes, and a series of lookups. */
trait Workload {
  /** Set-up steps a run repeats to report a median set-up time. */
  def setupRep(rep: Int): Unit
  /** One untimed pass over the same inputs after set-up: JIT, codegen and
    * first-touch paths. A warm-up on smaller inputs left the next pass ~8 %
    * slower than the one after it.
    */
  def warmUp(): Unit
  /** One pass. Each operation goes through `op`; a failed one aborts. */
  def pass(op: Ops): Unit
  /** One lookup; `i` picks the key. Returns the rows it returned. */
  def lookup(i: Int, op: Ops): Long
  /** Compressed bytes one pass reads. */
  def inputBytes: Long
  def close(): Unit = ()
}

/** Counts operations and turns any failure into an aborted pass. */
final class Ops {
  var attempted = 0L
  var failed = 0L
  val errors = mutable.ArrayBuffer.empty[String]
  def apply[T](what: String)(body: => T): T = {
    attempted += 1
    try body
    catch {
      case e: Throwable =>
        failed += 1
        errors += s"$what: ${Option(e.getMessage).getOrElse(e.getClass.getName).take(300)}"
        throw new PassAborted(e)
    }
  }
}
final class PassAborted(cause: Throwable) extends RuntimeException(cause)

/** The recount3 ingest pipeline over a generated mirror of many small
  * projects, served over loopback HTTP, with a cold cache every pass.
  */
final class ManyProjects(ctx: Ctx, shape: MirrorShape) extends Workload {
  import ctx._
  private val Dtypes: Seq[Dtype] = Seq(Dtype.Metadata, Dtype.Gene, Dtype.Exon, Dtype.Jxn)
  private var mirror: Path = _
  private var exp: Expected = _

  private def fileRoot: String = mirror.toUri.toString.stripSuffix("/")

  private def generate(rep: Int): Unit = {
    val dir = work.resolve(s"mirror$rep")
    Files.createDirectories(work)
    Paths.deleteTree(dir)
    exp = MirrorGen.write(dir, shape, seed)
    if (rep > 0) Paths.deleteTree(work.resolve(s"mirror${rep - 1}"))
    mirror = dir
  }

  def inputBytes: Long = exp.totalBytes

  private def newProject(corpus: DataFrame, root: String, cache: Path): Project =
    new Project(spark, corpus, MirrorGen.Dbase, MirrorGen.Organism,
      Some(Annotation.GencodeV26), Some("UNIQUE"), root, cache, cores)

  /** locate: endpoint discovery plus every URL the pass will cache. */
  private def discover(root: String): Unit = trace.span("locate.discover") {
    val eps = new EndpointConnector(MirrorGen.Organism, root)
    expect("data sources", eps.dataSources.keySet, Set("sra"))
    expect("corpus metadata urls",
      Locators.metadataUrls(eps.rootOrganismUrl, eps.dataSources).size, 1)
  }

  /** cache: one Downloader call through `body`, with hit/miss counts. */
  private def cached(what: String, urls: Seq[String], cache: Path)(body: => Unit): Unit = {
    val local = new Downloader(cache)
    val fresh = urls.distinct.filterNot(u => Files.exists(local.localPath(u)))
    trace.span(s"cache.$what")(body)
    val missing = urls.filterNot(u => Files.isRegularFile(local.localPath(u)))
    if (missing.nonEmpty) throw new CheckFailed(s"cache.$what: not cached: ${missing.head}")
    trace.add("cache.files_requested", urls.size)
    trace.add("cache.files_fetched", fresh.size)
    trace.add("cache.bytes_fetched", fresh.map(u => Files.size(local.localPath(u))).sum)
  }

  private def corpus(op: Ops, root: String, cache: Path): DataFrame = op("corpus") {
    val md = new Metadata(spark, MirrorGen.Organism, root, cache, cores)
    val eps = new EndpointConnector(MirrorGen.Organism, root)
    cached("corpus", Locators.metadataUrls(eps.rootOrganismUrl, eps.dataSources), cache)(md.cache())
    val df = trace.span("loaders.corpus.build", "loaders.corpus")(md.load())
    val r = trace.span("loaders.corpus", "loaders.corpus") {
      run("loaders.corpus", df, Seq(count(lit(1)), count(when(col("organism") === "human", 1))))
    }
    expect("corpus rows", r.getLong(0), exp.samples.size.toLong)
    expect("corpus organism", r.getLong(1), exp.samples.size.toLong)
    df
  }

  private def project(op: Ops, corpusDf: DataFrame, root: String, cache: Path): Project =
    op("project_ctor") {
      val p = trace.span("loaders.project_ctor.build", "loaders.project_ctor") {
        newProject(corpusDf, root, cache)
      }
      expect("project ids", p.projectIds, exp.projectIds.sorted)
      expect("sample ids", p.sampleIds, exp.samples.sorted)
      val urls = trace.span("locate.project_urls")(Dtypes.flatMap(p.urls))
      trace.add("locate.urls", urls.size)
      cached("project", urls, cache)(p.cache(Dtypes))
      p
    }

  /** A loader call: build (the call), then plan + exec + checks. */
  private def loader[T](op: Ops, key: String)(build: => T)(check: T => Unit): T = op(key) {
    val out = trace.span(s"loaders.$key.build", s"loaders.$key")(build)
    trace.span(s"loaders.$key", s"loaders.$key")(check(out))
    out
  }

  private def loadMetadata(op: Ops, p: Project): DataFrame =
    loader(op, "metadata")(p.loadMetadata()) { df =>
      expect("metadata cols", df.columns.length, exp.metadataCols)
      val r = run("loaders.metadata", df, Seq(count(lit(1)),
        sum(col("`star.all_mapped_reads`").cast("long"))))
      expect("metadata rows", r.getLong(0), exp.samples.size.toLong)
    }

  private def loadCounts(op: Ops, key: String, load: => (DataFrame, DataFrame),
      rows: Int, want: Map[String, Long]): DataFrame =
    loader(op, key)(load) { case (ann, counts) =>
      val a = run(s"loaders.$key", ann, Seq(count(lit(1)), count(when(col("gene_id") =!= "", 1))))
      expect(s"$key annotation rows", a.getLong(0), rows.toLong)
      expect(s"$key annotation ids", a.getLong(1), rows.toLong)
      val c = run(s"loaders.$key", counts, count(lit(1)) +:
        exp.samples.map(s => sum(col(s"`$s`")).cast(DecimalType(38, 0))))
      expect(s"$key rows", c.getLong(0), rows.toLong)
      exp.samples.zipWithIndex.foreach { case (s, i) =>
        expect(s"$key sum $s", c.getDecimal(i + 1).longValueExact, want(s))
      }
    }._2

  private def loadJxnLong(op: Ops, p: Project): DataFrame =
    loader(op, "jxn_long")(p.loadJxnLong()) { case (long, meta) =>
      val r = run("loaders.jxn_long", long, Seq(count(lit(1)), sum(col("value"))))
      expect("jxn_long rows", r.getLong(0), exp.totalJxnNnz)
      expect("jxn_long sum", r.getLong(1), exp.jxnSums.values.sum)
      val m = run("loaders.jxn_long", meta, Seq(count(lit(1))))
      expect("jxn_long meta rows", m.getLong(0), exp.jxnRows.toLong * exp.projectIds.size)
    }._1

  private def loadJxnWide(op: Ops, p: Project): Unit =
    loader(op, "jxn_wide")(p.loadJxn()) { case (wide, _) =>
      expect("jxn_wide cols", wide.columns.length, exp.samples.size)
      val r = run("loaders.jxn_wide", wide, count(lit(1)) +:
        Seq(wide.columns.map(c => col(s"`$c`").cast("decimal(38,0)")).reduce(_ + _))
          .map(c => sum(c)))
      expect("jxn_wide rows", r.getLong(0), exp.jxnRows.toLong)
      expect("jxn_wide sum", r.getDecimal(1).longValueExact, exp.jxnSums.values.sum)
    }

  /** transform: mapped-reads scaling on the wide gene counts, AUC scaling
    * on the long junctions.
    */
  private def scale(op: Ops, meta: DataFrame, genes: DataFrame, jxnLong: DataFrame): Unit = {
    val (mr, auc) = op("scale_factors") {
      trace.span("transform.factors", "transform.factors") {
        val mr = Scale.mappedReadsFactors(meta, MirrorGen.TargetSize, MirrorGen.ReadLength)
        val auc = Scale.aucFactors(meta, MirrorGen.TargetSize)
        (mr.cache(), auc.cache())
      }
    }
    op("scale_wide") {
      trace.span("transform.scale_wide", "transform.scale_wide") {
        val scaled = Scale.scaleMappedReadsWide(genes, mr)
        val r = run("transform.scale_wide", scaled,
          Seq(sum(exp.samples.map(s => col(s"`$s`").cast("double")).reduce(_ + _))))
        expectClose("mapped-reads scaled gene sum", r.getDouble(0), exp.mappedReadsGeneSum)
      }
    }
    op("scale_long") {
      trace.span("transform.scale_long", "transform.scale_long") {
        val rails = meta.select(col("rail_id"), col("external_id"))
        val scaled = Scale.scaleLong(jxnLong.join(broadcast(rails), "rail_id"), auc)
        val r = run("transform.scale_long", scaled, Seq(count(lit(1)), sum(col("value"))))
        expect("auc scaled jxn rows", r.getLong(0), exp.totalJxnNnz)
        expectClose("auc scaled jxn sum", r.getDouble(1), exp.aucJxnSum)
      }
    }
    mr.unpersist(); auc.unpersist()
  }

  /** io: a pruned point read of one sample of one project. */
  def lookup(i: Int, op: Ops): Long = op("lookup") {
    val rnd = new java.util.SplittableRandom(seed * 7919L + i)
    val pid = exp.projectIds(rnd.nextInt(exp.projectIds.size))
    val samples = exp.samplesByProject(pid)
    val sid = samples(rnd.nextInt(samples.size))
    trace.span("io.lookup", "io.lookup") {
      val r = spark.read.format("recount3")
        .option("root", fileRoot).option("dtype", "gene")
        .option("annotation", MirrorGen.Annotation)
        .option("projects", exp.projectIds.mkString(","))
        .load()
        .filter(col("project_id") === pid && col("sample_id") === sid)
        .agg(count(lit(1)), sum(col("value")))
        .head()
      expect(s"lookup $pid/$sid rows", r.getLong(0), exp.genes.toLong)
      expect(s"lookup $pid/$sid sum", r.getLong(1), exp.geneSums(sid))
      r.getLong(0)
    }
  }

  private var server: HttpMirror = _
  private var passNo = 0

  def setupRep(rep: Int): Unit = {
    generate(rep)
    if (server != null) server.stop()
    server = new HttpMirror(work, cores)
  }

  def warmUp(): Unit = pass(new Ops)

  def pass(op: Ops): Unit = {
    val cache = work.resolve(s"cache$passNo")
    Paths.deleteTree(work.resolve(s"cache${passNo - 1}"))
    passNo += 1
    val root = s"${server.url}/${mirror.getFileName}"
    discover(root)
    val corpusDf = corpus(op, root, cache)
    val p = project(op, corpusDf, root, cache)
    val meta = loadMetadata(op, p)
    val genes = loadCounts(op, "gene", p.loadGene(), exp.genes, exp.geneSums)
    loadCounts(op, "exon", p.loadExon(), exp.exons, exp.exonSums)
    val jxn = loadJxnLong(op, p)
    loadJxnWide(op, p)
    scale(op, meta, genes, jxn)
    meta.unpersist()
  }

  override def close(): Unit = if (server != null) server.stop()
}

object Paths {
  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally s.close()
    }
}
