package perfbench

import java.io.{BufferedWriter, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.SplittableRandom
import java.util.zip.GZIPOutputStream

/** Shape of a generated recount3 mirror. `density` is the share of
  * junction × sample cells that are non-zero in each MatrixMarket file.
  */
final case class MirrorShape(
    projects: Int,
    samples: Int,
    genes: Int,
    exons: Int,
    jxnRows: Int,
    density: Double) {
  override def toString: String =
    s"${projects}x$samples samples, $genes genes, $exons exons, $jxnRows jxn rows @ $density"
}

/** Totals the generator computed while writing a mirror: what every loader
  * output, scale step and lookup must reproduce. Sums are per sample id.
  */
final case class Expected(
    projectIds: Seq[String],
    samplesByProject: Map[String, Seq[String]],
    metadataCols: Int,
    genes: Int,
    exons: Int,
    jxnRows: Int,
    geneSums: Map[String, Long],
    exonSums: Map[String, Long],
    jxnNnz: Map[String, Long],
    jxnSums: Map[String, Long],
    mappedReadsGeneSum: Double,
    aucJxnSum: Double,
    bytes: Map[String, Long]) {
  def samples: Seq[String] = projectIds.flatMap(samplesByProject)
  def totalJxnNnz: Long = jxnNnz.values.sum
  def totalBytes: Long = bytes.values.sum
}

/** Seeded recount3 mirror writer: the exact file layout the locators
  * generate (organism `human`, data source `data_sources/sra`), with the
  * five per-project metadata tags, gene and exon GTFs, `##`-commented wide
  * count matrices and the ID/MM/RR junction triple. The same seed and
  * shape always give byte-identical files. The expected totals are written
  * next to the mirror as `expected.txt`.
  */
object MirrorGen {
  val Organism = "human"
  val Dbase = "sra"
  val DSource = "data_sources/sra"
  val Annotation = "G026"
  /** `Scale` parameters the workloads use; the generator applies the same
    * formulas to compute the expected scaled sums.
    */
  val TargetSize = 4e7
  val ReadLength = 100L

  private val CorpusCols = Seq("rail_id", "external_id", "study", "project",
    "organism", "project_home", "file_source", "date_processed")
  private val MetadataKey = Seq("rail_id", "external_id", "study")
  private val SraAttrs = (1 to 6).map(i => s"sra.attr_$i")
  private val RrCols = Seq("chromosome", "start", "end", "length", "strand",
    "annotated", "left_motif", "right_motif", "left_annotated", "right_annotated")
  /** Key columns once, plus each tag file's own columns. */
  val MetadataCols: Int = MetadataKey.size + SraAttrs.size + 2 + 3 + 1 + 1

  private final class Gz(path: Path) {
    Files.createDirectories(path.getParent)
    private val w = new BufferedWriter(new OutputStreamWriter(
      new GZIPOutputStream(Files.newOutputStream(path), 1 << 16),
      StandardCharsets.UTF_8), 1 << 16)
    def line(fields: Seq[String]): Unit = { w.write(fields.mkString("\t")); w.write('\n') }
    def raw(s: CharSequence): Unit = w.append(s)
    def close(): Unit = w.close()
  }

  private final case class Qc(mapped: Long, avgMapped: Long, avgRead: Long, auc: Long) {
    /** Scale.mappedReadsFactors, term for term. */
    def mappedReadsSf: Double = {
      val ratio = BigDecimal(avgMapped.toDouble / avgRead.toDouble)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toDouble
      val paired = if (ratio == 2.0) 2 else 1
      TargetSize * ReadLength * paired / (mapped.toDouble * StrictMath.pow(avgMapped.toDouble, 2))
    }
    /** Scale.aucFactors. */
    def aucSf: Double = TargetSize / auc.toDouble
  }

  /** Writes the mirror under `root` and returns the expected totals. */
  def write(root: Path, shape: MirrorShape, seed: Long): Expected = {
    val rnd = new SplittableRandom(seed)
    val human = root.resolve(Organism)
    Files.createDirectories(human)
    Files.writeString(human.resolve("homes_index"), DSource + "\n")
    def projectDir(dir: String, pid: String): Path =
      human.resolve(s"$DSource/$dir/${pid.takeRight(2)}/$pid")

    val tag = java.lang.Long.toString(math.abs(seed % 46656), 36)
    val pids = (0 until shape.projects).map(p => f"SRP$tag%s$p%05d")
    val sampleIds = pids.indices.map(p =>
      (0 until shape.samples).map(s => f"SRR$tag%s$p%04d$s%03d"))
    val samplesByProject = pids.zip(sampleIds).toMap
    def rail(p: Int, s: Int): String = (100000 + p * shape.samples + s).toString
    val qc = sampleIds.map(_.map { _ =>
      val avgMapped = 2L * rnd.nextLong(50, 100)
      val avgRead = if (rnd.nextBoolean()) avgMapped / 2 else avgMapped
      Qc(rnd.nextLong(1000000L, 50000000L), avgMapped, avgRead,
        rnd.nextLong(100000000L, 5000000000L))
    })

    // ---- corpus metadata: one file for the one data source ----
    val corpus = new Gz(human.resolve(s"$DSource/metadata/$Dbase.recount_project.MD.gz"))
    corpus.line(CorpusCols)
    for ((pid, p) <- pids.zipWithIndex; (sid, s) <- sampleIds(p).zipWithIndex)
      corpus.line(Seq(rail(p, s), sid, pid, pid, "Homo sapiens", DSource, Dbase, "2024-01-01"))
    corpus.close()

    // ---- per-project metadata: five tag files on the composite key ----
    for ((pid, p) <- pids.zipWithIndex) {
      val dir = projectDir("metadata", pid)
      def tagFile(t: String, cols: Seq[String])(row: Int => Seq[String]): Unit = {
        val f = new Gz(dir.resolve(s"$Dbase.$t.$pid.MD.gz"))
        f.line(MetadataKey ++ cols)
        for ((sid, s) <- sampleIds(p).zipWithIndex) f.line(Seq(rail(p, s), sid, pid) ++ row(s))
        f.close()
      }
      tagFile(Dbase, SraAttrs)(s => SraAttrs.indices.map(a => s"v${(s * 7 + a) % 13}"))
      tagFile("recount_project", Seq("project", "organism"))(_ => Seq(pid, "Homo sapiens"))
      tagFile("recount_qc", Seq("star.all_mapped_reads", "star.average_mapped_length", "avg_len")) { s =>
        val q = qc(p)(s)
        Seq(q.mapped.toString, q.avgMapped.toString, q.avgRead.toString)
      }
      tagFile("recount_seq_qc", Seq("bc_auc.all_reads_all_bases"))(s => Seq(qc(p)(s).auc.toString))
      tagFile("recount_pred", Seq("pred.attr"))(s => Seq(s"p${s % 3}"))
    }

    // ---- annotations: GTF, 9 columns, `#` comments, no header ----
    def gtf(dir: String, feature: String, n: Int, id: Int => String): Unit = {
      val f = new Gz(human.resolve(s"annotations/$dir/$Organism.$dir.$Annotation.gtf.gz"))
      f.raw("##description: generated annotation\n")
      for (i <- 0 until n) {
        val start = 1000 + i * 50L
        f.line(Seq(s"chr${1 + i % 22}", "HAVANA", feature, start.toString, (start + 40).toString,
          ".", if (i % 2 == 0) "+" else "-", ".",
          s"""gene_id "${id(i)}"; gene_name "N$i"; gene_biotype "protein_coding"; tag "basic";"""))
      }
      f.close()
    }
    def geneId(i: Int): String = f"ENSG$i%011d"
    def exonId(i: Int): String =
      s"chr${1 + i % 22}|${1000 + i * 50L}|${1040 + i * 50L}|${if (i % 2 == 0) "+" else "-"}"
    gtf("gene_sums", "gene", shape.genes, geneId)
    gtf("exon_sums", "exon", shape.exons, exonId)

    // ---- wide counts: `##` comments, feature id + one column per sample ----
    val geneSums = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    val exonSums = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    var mappedReadsGeneSum = 0.0
    def counts(dir: String, key: String, n: Int, id: Int => String, max: Int,
        sums: scala.collection.mutable.Map[String, Long], scale: Boolean): Unit =
      for ((pid, p) <- pids.zipWithIndex) {
        val f = new Gz(projectDir(dir, pid).resolve(s"$Dbase.$dir.$pid.$Annotation.gz"))
        f.raw(s"##annotation=$Annotation\n##date.generated=2024-01-01\n")
        f.line(key +: sampleIds(p))
        val sb = new java.lang.StringBuilder(16 * (shape.samples + 2))
        val mr = qc(p).map(_.mappedReadsSf)
        for (i <- 0 until n) {
          sb.setLength(0)
          sb.append(id(i))
          var s = 0
          while (s < shape.samples) {
            // a quarter of the cells are zero, as in sparse count data
            val v = if (rnd.nextInt(4) == 0) 0L else rnd.nextLong(1, max)
            sb.append('\t').append(v)
            sums(sampleIds(p)(s)) += v
            if (scale) mappedReadsGeneSum += v * mr(s)
            s += 1
          }
          sb.append('\n')
          f.raw(sb)
        }
        f.close()
      }
    counts("gene_sums", "gene_id", shape.genes, geneId, 5000, geneSums, scale = true)
    counts("exon_sums", "exon_id", shape.exons, exonId, 500, exonSums, scale = false)

    // ---- junctions: ID list, MatrixMarket coordinate matrix, RR table ----
    val jxnNnz = scala.collection.mutable.Map.empty[String, Long]
    val jxnSums = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    var aucJxnSum = 0.0
    for ((pid, p) <- pids.zipWithIndex) {
      val dir = projectDir("junctions", pid)
      def file(ext: String) = new Gz(dir.resolve(s"$Dbase.junctions.$pid.UNIQUE.$ext.gz"))
      val ids = file("ID")
      ids.raw("rail_id\n")
      for (s <- 0 until shape.samples) ids.raw(rail(p, s) + "\n")
      ids.close()

      val body = new java.lang.StringBuilder(1 << 20)
      var nnz = 0L
      for (r <- 1 to shape.jxnRows; s <- 0 until shape.samples)
        if (rnd.nextDouble() < shape.density) {
          val v = rnd.nextLong(1, 60)
          body.append(r).append(' ').append(s + 1).append(' ').append(v).append('\n')
          nnz += 1
          jxnSums(sampleIds(p)(s)) += v
          aucJxnSum += v * qc(p)(s).aucSf
        }
      jxnNnz(pid) = nnz
      val mm = file("MM")
      mm.raw("%%MatrixMarket matrix coordinate integer general\n%generated\n")
      mm.raw(s"${shape.jxnRows} ${shape.samples} $nnz\n")
      mm.raw(body)
      mm.close()

      val rr = file("RR")
      rr.line(RrCols)
      for (r <- 0 until shape.jxnRows) {
        val start = 5000L + r * 30
        rr.line(Seq(s"chr${1 + r % 22}", start.toString, (start + 20).toString, "21",
          if (r % 2 == 0) "+" else "-", (r % 2).toString, "GT", "AG", "0", "1"))
      }
      rr.close()
    }

    val bytes = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    Files.walk(human).forEach { f =>
      if (Files.isRegularFile(f)) {
        val rel = human.relativize(f).toString
        val kind = Seq("annotations/gene_sums", "annotations/exon_sums", "gene_sums",
          "exon_sums", "junctions", "metadata").find(k => rel.contains(k + "/"))
          .getOrElse("index")
        bytes(kind) += Files.size(f)
      }
    }
    val exp = Expected(pids, samplesByProject, MetadataCols, shape.genes, shape.exons, shape.jxnRows,
      geneSums.toMap, exonSums.toMap, jxnNnz.toMap, jxnSums.toMap,
      mappedReadsGeneSum, aucJxnSum, bytes.toMap)
    Files.writeString(root.resolve("expected.txt"), describe(shape, seed, exp))
    exp
  }

  /** The sidecar: one `key<TAB>value` line per expected total. */
  def describe(shape: MirrorShape, seed: Long, e: Expected): String = {
    val lines = Seq(
      "shape" -> shape.toString, "seed" -> seed.toString,
      "corpus_rows" -> e.samples.size.toString,
      "metadata_rows" -> e.samples.size.toString,
      "metadata_cols" -> e.metadataCols.toString,
      "gene_rows" -> e.genes.toString, "exon_rows" -> e.exons.toString,
      "jxn_long_rows" -> e.totalJxnNnz.toString,
      "jxn_wide_rows" -> e.jxnRows.toString,
      "mapped_reads_gene_sum" -> e.mappedReadsGeneSum.toString,
      "auc_jxn_sum" -> e.aucJxnSum.toString) ++
      e.projectIds.map(p => s"nnz.$p" -> e.jxnNnz(p).toString) ++
      e.samples.flatMap(s => Seq(s"gene_sum.$s" -> e.geneSums(s).toString,
        s"exon_sum.$s" -> e.exonSums(s).toString, s"jxn_sum.$s" -> e.jxnSums(s).toString)) ++
      e.bytes.toSeq.sorted.map { case (k, v) => s"bytes.$k" -> v.toString }
    lines.map { case (k, v) => s"$k\t$v" }.mkString("", "\n", "\n")
  }
}
