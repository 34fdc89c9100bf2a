package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.io.Source
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Corpus, Prohap, ProHapCli, Provar}
import graft.functions.text
import graft.operators.{Dedup, HaploProteins, IntervalJoin}
import graft.queries.GenomicPipeline
import graft.sources.{Fasta, Gtf, Vcf}

/** One benchmark pass in a fresh JVM, as one CLI invocation would run.
  *
  * {{{
  * Pass setup  <threads> <result.json>
  * Pass run    <workload> <inputs> <outputs> <threads> <trace 0|1> <result.json>
  * Pass anchor <fixtures> <threads> <result.json>
  * }}}
  *
  * `setup` builds the CLI's SparkSession and stops. `run` builds it, then
  * makes the calls the workload's CLI main makes between building the
  * session and `spark.stop()` (untraced), or the same calls split into
  * layer spans (traced, see [[Trace]]). `anchor` runs `Prohap.run` and
  * `Provar.run` on the committed fixtures and compares their rows with
  * the committed expected snapshots. Each mode writes one JSON object.
  */
object Pass {

  def session(threads: String, app: String): SparkSession = {
    val spark = ProHapCli.session(Map("threads" -> threads), app)
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The workload's CLI arguments. */
  def cliArgs(workload: String, in: String, out: String,
              threads: String): Array[String] = (workload match {
    case "prohap_cohort" => Seq("-i", s"$in/cohort.vcf.gz",
      "-db", s"$in/annotation.gtf", "-cdna", s"$in/cdna.fa",
      "-s", s"$in/samples.tsv", "-output_csv", s"$out/haplo.tsv",
      "-output_fasta", s"$out/haplo.fasta",
      "-output_cdna_fasta", s"$out/haplo_cdna.fasta")
    case "provar_bcf" | "provar_vcfgz" => Seq("-i",
      if (workload == "provar_bcf") s"$in/cohort_bcf"
      else s"$in/cohort.vcf.gz",
      "-db", s"$in/annotation.gtf", "-cdna", s"$in/cdna.fa",
      "-output_csv", s"$out/var.tsv", "-output_fasta", s"$out/var.fasta",
      "-output_cdna_fasta", s"$out/var_cdna.fasta")
    case "corpus_neardup" => Seq("-i", s"$in/docs.parquet",
      "-o", s"$out/corpus", "-normalize", "1", "-dedup", "near",
      "-jaccard", "0.8")
    case other => sys.error(s"unknown workload $other")
  }).toArray ++ Array("-threads", threads)

  def main(args: Array[String]): Unit = {
    val rt = ManagementFactory.getRuntimeMXBean
    def setupDone(): Double =
      (System.currentTimeMillis() - rt.getStartTime) / 1000.0
    args(0) match {
      case "setup" =>
        val spark = session(args(1), "graft-setup")
        val s = setupDone()
        spark.stop()
        writeJson(args(2), Seq("setup_s" -> s))
      case "run" =>
        val Array(_, workload, in, out, threads, trace, result) = args
        val opts = ProHapCli.parseArgs(cliArgs(workload, in, out, threads))
        val spark = session(threads, s"graft-$workload")
        val setup = setupDone()
        val before = Usage.now()
        val traced =
          if (trace == "1") Some(runTraced(spark, workload, opts))
          else { runUntraced(spark, workload, opts); None }
        val after = Usage.now()
        val wall = (after.nanos - before.nanos) / 1e9
        val cpu = (after.cpuNs - before.cpuNs) / 1e9
        val e2e = Seq("setup_s" -> setup, "wall_s" -> wall, "cpu_s" -> cpu,
          "peak_rss_mb" -> Usage.peakRssMb(),
          "ext_busy_cores" -> math.max(0.0,
            (after.busyS - before.busyS - cpu) / wall),
          "iowait_cores" -> (after.iowaitS - before.iowaitS) / wall,
          "steal_cores" -> (after.stealS - before.stealS) / wall)
        if (workload == "corpus_neardup") dumpCorpus(spark, out)
        spark.stop()
        writeJson(result, e2e ++ traced.map(t => "trace" -> t).toSeq)
      case "anchor" =>
        val Array(_, fixtures, threads, result) = args
        val spark = session(threads, "graft-anchor")
        val res = anchor(spark, fixtures)
        spark.stop()
        writeJson(result, res)
    }
  }

  // ------------------------------------------------------------ untraced

  /** The calls `Prohap.main` / `Provar.main` / `Corpus.main` make between
    * building the session and stopping it.
    */
  def runUntraced(spark: SparkSession, workload: String,
                  opts: Map[String, String]): Unit = workload match {
    case "prohap_cohort" =>
      val db = Prohap.run(spark, opts).persist()
      writeDb(db, opts, "generic_enshap", "enshap", "haplo_")
      GenomicPipeline.releaseCaches()
      db.unpersist()
    case "provar_bcf" | "provar_vcfgz" =>
      val db = Provar.run(spark, opts).persist()
      writeDb(db, opts, "generic_var", "var", "var_")
      db.unpersist()
    case "corpus_neardup" => Corpus.run(spark, opts)
  }

  private def writeDb(db: DataFrame, opts: Map[String, String],
                      tag0: String, acc0: String, id0: String): Unit = {
    import ProHapCli._
    val tag = opts.getOrElse("tag", tag0)
    val accPrefix = opts.getOrElse("acc_prefix", acc0)
    val idPrefix = opts.getOrElse("id_prefix", id0)
    write(metadataFrame(db, idPrefix), opts("output_csv"), opts,
      asFasta = false)
    write(fastaEntries(db, tag, accPrefix, idPrefix),
      opts("output_fasta"), opts, asFasta = true)
    opts.get("output_cdna_fasta").foreach { p =>
      write(cdnaEntries(db, tag, idPrefix), p, opts, asFasta = true)
    }
  }

  // -------------------------------------------------------------- traced

  /** The same calls as [[runUntraced]], split into the benchmark's layers.
    * Returns the trace as a JSON object.
    */
  def runTraced(spark: SparkSession, workload: String,
                opts: Map[String, String]): String = {
    val t = new Trace(spark)
    workload match {
      case "prohap_cohort" => tracedProhap(spark, opts, t)
      case "provar_bcf" | "provar_vcfgz" => tracedProvar(spark, opts, t)
      case "corpus_neardup" => tracedCorpus(spark, opts, t)
    }
    val layers = t.finish()
    val threads = opts("threads").toDouble
    val totalS = (t.root.endNs - t.root.startNs) / 1e9
    def mb(b: Long) = b / 1048576.0
    val layerJson = layers.map { case (s, st) =>
      val self = (s.endNs - s.startNs) / 1e9
      s""""${s.name}": ${obj(Seq("wall_s" -> self, "rows_out" -> s.rows,
        "stages" -> st.stages, "tasks" -> st.tasks,
        "core_util" -> st.runMs / 1000.0 / (self * threads),
        "shuffle_write_mb" -> mb(st.shuffleWrite),
        "spill_mb" -> mb(st.spill), "fetch_wait_s" -> st.fetchWaitMs / 1e3,
        "gc_s" -> st.gcMs / 1e3, "failed_tasks" -> st.failedTasks))}"""
    }.mkString("{", ", ", "}")
    val spanJson = (t.root +: t.spans.toSeq).map { s =>
      obj(Seq("name" -> s"\"${s.name}\"", "parent" -> s"\"${s.parent}\"",
        "start_s" -> (s.startNs - t.root.startNs) / 1e9,
        "end_s" -> (s.endNs - t.root.startNs) / 1e9))
    }.mkString("[", ", ", "]")
    val u = t.unattributed
    obj(Seq("total_s" -> totalS, "layers" -> layerJson, "spans" -> spanJson,
      "unattributed_stages" -> u.stages, "unattributed_tasks" -> u.tasks))
  }

  private def tracedProhap(spark: SparkSession, opts: Map[String, String],
                           t: Trace): Unit = {
    val (raw, samples) = t.span("sources.vcf_decode") {
      (t.keep(ProHapCli.readVcfInput(spark, opts)),
        Vcf.sampleNamesAuto(spark, opts("i")))
    }
    val norm = t.span("sources.vcf_normalize") {
      t.keep(Vcf.normalize(raw, opts.getOrElse("af", "0").toDouble))
    }
    val (meta, transcripts, tinfo) = t.span("sources.annotation") {
      val gtf = Gtf.read(spark, opts("db"))
      val meta = t.keep(ProHapCli.samplesMeta(spark, opts("s")), out = false)
      val transcripts = t.keep(
        ProHapCli.transcriptIntervals(spark, gtf, opts), out = false)
      (meta, transcripts, t.keep(transcriptInfo(spark, gtf, transcripts,
        opts)))
    }
    val gts = t.span("operators.interval_join") {
      t.keep(ProHapCli.genotypesByTranscript(norm, samples, meta,
        transcripts,
        opts.getOrElse("x_par1_to", "2781479").toLong,
        opts.getOrElse("x_par2_from", "155701383").toLong,
        opts.getOrElse("bin_size", "100000").toLong))
    }
    val metaOpt =
      if (Seq("population", "superpopulation").forall(
        meta.columns.contains(_))) Some(meta)
      else None
    val haplo = t.span("queries.haplotypes") {
      t.keep(GenomicPipeline.haploInputFrom(gts, metaOpt, tinfo))
    }
    val minFreq = opts.getOrElse("min_hap_freq", "-1").toDouble
    val minCount =
      if (minFreq >= 0) 0L else opts.getOrElse("min_hap_count", "0").toLong
    val db = t.span("operators.proteins") {
      val db = HaploProteins.proteinDatabase(haplo,
        forceRf = opts.getOrElse("force_rf", "1") == "1",
        ignoreUtr = opts.getOrElse("ignore_UTR", "1") == "1",
        skipStartLoss = opts.getOrElse("skip_start_lost", "1") == "1",
        minCount = minCount,
        keepCdna = opts.contains("output_cdna_fasta"))
      t.keep(if (minFreq >= 0) db.where(col("frequency") >= minFreq) else db)
    }
    t.span("cli.sink") {
      t.addRows(db.count())
      writeDb(db, opts, "generic_enshap", "enshap", "haplo_")
      GenomicPipeline.releaseCaches()
    }
  }

  private def tracedProvar(spark: SparkSession, opts: Map[String, String],
                           t: Trace): Unit = {
    // Provar reads no genotypes: the untraced plan prunes them out of the
    // decode, so the materialized decode keeps only the columns used
    val raw = t.span("sources.vcf_decode") {
      t.keep(ProHapCli.readVcfInput(spark, opts)
        .select("chrom", "pos", "id", "ref", "alt", "af"))
    }
    val norm = t.span("sources.vcf_normalize") {
      t.keep(Vcf.normalize(
        raw.withColumn("genotypes", typedLit(Seq.empty[String])),
        opts.getOrElse("af", "0").toDouble)
        .select(col("chrom"), col("pos"), col("id"), col("ref"),
          col("alt"), col("allele_af")))
    }
    val (transcripts, tinfo) = t.span("sources.annotation") {
      val gtf = Gtf.read(spark, opts("db"))
      val transcripts = t.keep(
        ProHapCli.transcriptIntervals(spark, gtf, opts), out = false)
      (transcripts, t.keep(transcriptInfo(spark, gtf, transcripts, opts)))
    }
    val perVariant = t.span("operators.interval_join") {
      t.keep(IntervalJoin.pointsInIntervals(norm, transcripts, Seq("chrom"),
        opts.getOrElse("bin_size", "100000").toLong)
        .select("transcript", "id", "pos", "ref", "alt", "allele_af")
        .distinct())
    }
    val db = t.span("operators.proteins") {
      val rows = perVariant
        .withColumn("varId", concat(col("id"), lit(":"), col("alt")))
        .withColumn("changes", array(struct(col("pos"), col("varId"),
          col("ref"), col("alt"), col("allele_af").as("af"))))
        .withColumn("signature", col("varId"))
        .withColumn("hap_count", lit(1L))
        .withColumn("frequency", lit(0.0))
        .withColumn("samples", lit(""))
        .drop("id")
      t.keep(HaploProteins.proteinDatabase(
        rows.join(tinfo, Seq("transcript")),
        forceRf = opts.getOrElse("force_rf", "1") == "1",
        ignoreUtr = false, skipStartLoss = false, requireNonSyn = false,
        keepCdna = opts.contains("output_cdna_fasta")))
    }
    t.span("cli.sink") {
      t.addRows(db.count())
      writeDb(db, opts, "generic_var", "var", "var_")
    }
  }

  /** `Prohap.run` / `Provar.run`'s transcript table: annotation + cDNA,
    * restricted to the interval table's transcripts, start codon required
    * unless `-require_start 0`.
    */
  private def transcriptInfo(spark: SparkSession, gtf: DataFrame,
                             transcripts: DataFrame,
                             opts: Map[String, String]): DataFrame = {
    val cdna = Fasta.read(spark, opts("cdna"))
      .select(col("accession").as("transcript_id"), col("sequence"))
    val tinfo0 = GenomicPipeline.transcriptInfoFrom(gtf, cdna)
      .join(broadcast(transcripts.select("transcript")), Seq("transcript"),
        "left_semi")
    if (opts.getOrElse("require_start", "1") == "1")
      tinfo0.where(col("start_codon_start").isNotNull)
    else tinfo0
  }

  /** `Corpus.run`'s chain for `-normalize 1 -dedup near`, from the public
    * operators it composes.
    */
  private def tracedCorpus(spark: SparkSession, opts: Map[String, String],
                           t: Trace): Unit = {
    val (docs, quality) = t.span("corpus.read_clean") {
      val input = t.keep(spark.read.parquet(opts("i")), out = false)
      val docs = t.keep(input
        .withColumn("text", trim(regexp_replace(
          regexp_replace(col("text"), lit("[\\x00-\\x1f]"), lit(" ")),
          lit(" +"), lit(" ")))))
      (docs, t.keep(docs.select(col("doc_id").as("id"),
        text.qualityScore(col("text")).as("q")), out = false))
    }
    val thr = opts.getOrElse("jaccard", "0.8").toDouble
    val pairs = t.span("operators.dedup_pairs") {
      t.keep(Dedup.minhashLsh(docs, "doc_id", "text", jaccardThreshold = thr))
    }
    val clusters = t.span("operators.dedup_clusters") {
      t.keep(Dedup.duplicateClusters(pairs))
    }
    t.span("corpus.resolve_sink") {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("cluster"))
        .orderBy(col("q").desc, col("id").asc)
      val losers = clusters.join(quality, Seq("id"))
        .withColumn("_rn", row_number().over(w))
        .where(col("_rn") > 1)
        .select(col("id").as("doc_id"))
      val kept = t.keep(docs.join(losers, Seq("doc_id"), "left_anti"))
      kept.write.mode("overwrite").parquet(opts("o"))
    }
  }

  // ------------------------------------------------------------- outputs

  /** `(doc_id, md5(text))` of the written corpus, one TSV line per row,
    * for the output checks (read back after the timed region).
    */
  private def dumpCorpus(spark: SparkSession, out: String): Unit = {
    val rows = spark.read.parquet(s"$out/corpus")
      .select(col("doc_id").cast("string"), md5(col("text")))
      .collect().map(r => s"${r.getString(0)}\t${r.getString(1)}")
    Files.write(Paths.get(s"$out/corpus_digest.tsv"),
      rows.mkString("", "\n", "\n").getBytes(UTF_8))
  }

  /** Check (a): the CLI call sequence on the committed raw fixtures, with
    * the options the CLI spec uses, reproduces the committed h4 / pv1 rows.
    */
  private def anchor(spark: SparkSession, fx: String): Seq[(String, Any)] = {
    val opts = Map("i" -> s"$fx/sample.vcf", "db" -> s"$fx/annotations.gtf",
      "cdna" -> s"$fx/cdna.fasta", "s" -> s"$fx/samples.tsv",
      "x_par1_to" -> "15", "x_par2_from" -> "100", "require_start" -> "0",
      "bin_size" -> "20")
    def rowsOf(df: DataFrame): Set[String] = {
      val cols = df.columns.sorted
      df.selectExpr(cols.map(c => s"`$c`"): _*).collect()
        .map(_.toSeq.map(String.valueOf).mkString("|")).toSet
    }
    def same(cli: DataFrame, snapshot: String): Boolean = {
      val exp = spark.read.parquet(s"$fx/expected/$snapshot.parquet")
      cli.columns.forall(exp.columns.contains(_)) &&
        rowsOf(cli) == rowsOf(exp.select(cli.columns.map(c => col(s"`$c`")):
          _*))
    }
    val h4 = same(Prohap.run(spark, opts), "h4_protein_db")
    GenomicPipeline.releaseCaches()
    val pv1 = same(Provar.run(spark, opts), "pv1_provar")
    Seq("h4_protein_db" -> h4, "pv1_provar" -> pv1)
  }

  // --------------------------------------------------------------- json

  private def fmt(v: Any): String = v match {
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case s: String => s // pre-rendered JSON
    case o => o.toString
  }

  private def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => s""""$k": ${fmt(v)}""" }.mkString("{", ", ", "}")

  private def writeJson(path: String, kv: Seq[(String, Any)]): Unit =
    Files.write(Paths.get(path), (obj(kv) + "\n").getBytes(UTF_8))
}

/** Process and machine CPU counters at one instant. */
final case class Usage(nanos: Long, cpuNs: Long, busyS: Double,
                       iowaitS: Double, stealS: Double)

object Usage {
  // USER_HZ: /proc/stat counts in 1/100 s on Linux
  private val Hz = 100.0

  def now(): Usage = {
    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val f = Source.fromFile("/proc/stat")
    val cpu = try f.getLines().next().trim.split("\\s+").drop(1)
      .map(_.toLong) finally f.close()
    // user nice system idle iowait irq softirq steal
    val steal = if (cpu.length > 7) cpu(7) else 0L
    val busy = cpu(0) + cpu(1) + cpu(2) + cpu(5) + cpu(6) + steal
    Usage(System.nanoTime(), os.getProcessCpuTime, busy / Hz, cpu(4) / Hz,
      steal / Hz)
  }

  /** The process's resident-set high-water mark (`VmHWM`), in MB. */
  def peakRssMb(): Double = {
    val f = Source.fromFile("/proc/self/status")
    try f.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
    finally f.close()
  }
}
