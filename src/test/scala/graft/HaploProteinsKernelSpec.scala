package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.classic.GraftColumnBridge.column
import org.apache.spark.sql.classic.GraftPlanFrames
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.fixtures.GenomicFixtures
import graft.operators.HaploProteins
import graft.plans.ProteinExprs._
import graft.queries.GenomicPipeline
import graft.{HaploProteinsHofReference => Hof}

/** Per-kernel parity between the compiled protein kernels
  * ([[graft.plans.ProteinExprs]]) and the higher-order-function
  * expressions they transcribe ([[HaploProteinsHofReference]]).
  *
  * For each input set and flag combination, the spec builds
  * [[HaploProteins.proteinDatabase]], finds every kernel call in its
  * analyzed plan, and evaluates the call next to its transcription over
  * the rows the call's node consumes — the pipeline's own input to that
  * kernel. The outputs (type and every row) must match exactly. The
  * input sets are the fixture mini-genome (haplotypes and the pv1
  * per-variant rows), the inline edge-case haplotypes E1-E10, and a
  * generated 120-haplotype multi-shape corpus.
  */
class HaploProteinsKernelSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .appName("haplo-kernel-parity")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    GenomicFixtures.ensure(spark)
  }

  override def afterAll(): Unit = spark.stop()

  /** The HOF transcription of one kernel call, over the same arguments. */
  private val reference: PartialFunction[Expression, Column] = {
    case k: GraftRnaAllele =>
      Hof.rnaAllele(column(k.exons), column(k.loc), column(k.ref),
        column(k.alt))
    case k: GraftAffected =>
      Hof.affected(column(k.cdna), column(k.loc), column(k.alen),
        column(k.rf), column(k.pstart))
    case k: GraftStartState =>
      Hof.startState(column(k.vars), column(k.sl0), column(k.rf0),
        column(k.ps0), column(k.hasStart), k.forceRf, k.skipStartLoss)
    case k: GraftApplyVars =>
      Hof.applyVars(column(k.vars), column(k.cdna))
    case k: GraftConseq =>
      Hof.conseq(column(k.refA), column(k.altA), column(k.dnaType),
        column(k.isFs), column(k.hasFsBefore))
  }

  /** Every kernel call in `db`'s plan must equal its transcription on the
    * rows its node consumes; all five kernels must be reached (affected
    * twice: reference and mutated side).
    */
  private def assertKernelsMatch(db: DataFrame, what: String): Unit = {
    val calls = db.queryExecution.analyzed.collect { case node =>
      node.expressions.flatMap(_.collect {
        case k if reference.isDefinedAt(k) => (node, k)
      })
    }.flatten
    val checked = calls.map {
      case (p: Project, k) =>
        val out = GraftPlanFrames.frame(spark, p.child)
          .select(column(k).as("kernel"), reference(k).as("hof"))
        val name = s"$what: ${k.prettyName}"
        assert(out.schema("kernel").dataType.catalogString ==
          out.schema("hof").dataType.catalogString, s"$name: type diverged")
        val rows = out.collect()
        assert(rows.nonEmpty, s"$name: no input rows")
        rows.zipWithIndex.foreach { case (r, i) =>
          assert(r.get(0) == r.get(1),
            s"$name: row $i diverged\n kernel: ${r.get(0)}\n hof: ${r.get(1)}")
        }
        k.prettyName
      case (node, k) =>
        fail(s"$what: ${k.prettyName} outside a projection: ${node.nodeName}")
    }
    assert(checked.sorted == Seq("graft_affected", "graft_affected",
      "graft_apply_vars", "graft_conseq", "graft_rna_allele",
      "graft_start_state"), s"$what: kernel calls found")
  }

  private val flagCombos: Seq[(String, DataFrame => DataFrame)] = Seq(
    "default" -> (HaploProteins.proteinDatabase(_)),
    "pv1 flags" -> (HaploProteins.proteinDatabase(_, ignoreUtr = false,
      skipStartLoss = false, requireNonSyn = false)),
    "forceRf=false keepCdna=true" -> (HaploProteins.proteinDatabase(_,
      forceRf = false, keepCdna = true)))

  private def check(input: DataFrame, what: String, flags: String): Unit =
    assertKernelsMatch(flagCombos.toMap.apply(flags)(input), s"$what, $flags")

  private def everyCombo(input: DataFrame, what: String): Unit =
    flagCombos.foreach { case (flags, _) => check(input, what, flags) }

  test("fixture corpus: default flags match the legacy expressions") {
    check(GenomicPipeline.haploInput(spark), "fixture", "default")
  }

  test("fixture corpus: pv1 flags (UTRs kept, start-loss kept, " +
    "synonymous kept) match") {
    check(GenomicPipeline.haploInput(spark), "fixture", "pv1 flags")
    // the pv1 gate itself: one-variant rows per allele line
    assertKernelsMatch(SparkEntry.queries("pv1_provar")(spark, ""),
      "pv1_provar")
  }

  test("fixture corpus: forceRf=false and keepCdna=true match") {
    check(GenomicPipeline.haploInput(spark), "fixture",
      "forceRf=false keepCdna=true")
    GenomicPipeline.releaseCaches()
  }

  // ---- inline edge shapes the shared fixture doesn't reach -------------
  private def inline(exons: Seq[(Long, Long)], startCodon: Option[Long],
                     strand: String, cdna: String,
                     changes: Seq[(Long, String, String, String)],
                     tx: String) = {
    val ss = spark
    import ss.implicits._
    Seq(1).toDF("x").select(
      lit(tx).as("transcript"), lit("1").as("chrom"),
      lit("protein_coding").as("biotype"), lit(strand).as("strand"),
      array(exons.map { case (s, e) =>
        struct(lit(s).as("start"), lit(e).as("end")) }: _*).as("exons"),
      startCodon.map(lit(_)).getOrElse(lit(null)).cast("long")
        .as("start_codon_start"),
      lit(null).cast("long").as("stop_codon_start"),
      lit(cdna).as("cdna"),
      lit(tx + changes.map(_._2).mkString(";")).as("signature"),
      array(changes.map { case (pos, id, ref, alt) =>
        struct(lit(pos).as("pos"), lit(id).as("varId"), lit(ref).as("ref"),
          lit(alt).as("alt"), lit(0.5).as("af")) }: _*).as("changes"),
      lit(1L).as("hap_count"), lit(0.5).as("frequency"),
      lit("S1:1").as("samples"))
  }

  private def edgeCases: DataFrame = {
    val cdna = "ATG" + "GCT" * 19 // 60 nt
    Seq(
      // allele ending exactly AT the exon end (splice flag, no truncation)
      inline(Seq((11L, 40L), (61L, 90L)), Some(11L), "+", cdna,
        Seq((39L, "e1", "CT", "AT")), "E1"),
      // REF spans the intron and reaches INTO the next exon (reassembly)
      inline(Seq((11L, 40L), (61L, 90L)), Some(11L), "+", cdna,
        Seq((39L, "e2", "CT" + "N" * 20 + "GC", "AA")), "E2"),
      // allele starting IN the intron before an exon (front truncation)
      inline(Seq((11L, 40L), (61L, 90L)), Some(11L), "+", cdna,
        Seq((59L, "e3", "NNGC", "T")), "E3"),
      // start codon destroyed (start_lost -> rf -1 chain)
      inline(Seq((11L, 70L)), Some(11L), "+", cdna,
        Seq((12L, "e4", "TG", "A")), "E4"),
      // frameshift BEFORE the start codon (shifts the start location)
      inline(Seq((5L, 70L)), Some(11L), "+",
        "TTTTTT" + cdna, Seq((7L, "e5", "T", "TA")), "E5"),
      // SNP on the base right before the start codon: shifts nothing and
      // must not count as a start hit (the hitsStart boundary)
      inline(Seq((5L, 70L)), Some(11L), "+",
        "TTTTTT" + cdna, Seq((10L, "eD", "T", "C")), "E10"),
      // no start codon at all: rf = -1, three-frame chaining + deletion
      inline(Seq((11L, 70L)), None, "+", cdna,
        Seq((20L, "e6", "TGC", "T"), (31L, "e7", "C", "G")), "E6"),
      // reverse strand: flip + revComp path (cdna = revcomp of exon seq)
      inline(Seq((11L, 70L)), Some(68L), "-",
        graft.functions.dna.codonTable.map(_._1).mkString("")
          .take(60), Seq((30L, "e8", "A", "C"), (45L, "e9", "G", "T")),
        "E7"),
      // multi-variant with indel offsets: insertion then SNP downstream
      inline(Seq((11L, 70L)), Some(11L), "+", cdna,
        Seq((15L, "eA", "T", "TCC"), (24L, "eB", "C", "A")), "E8"),
      // liftover drop: ALT already present in the reference cDNA
      inline(Seq((11L, 70L)), Some(11L), "+", cdna,
        Seq((15L, "eC", "T", "GC")), "E9") // cdna[4..5] = "GC"
    ).reduce(_ unionByName _)
  }

  // ---- generated corpus: many shapes through the same plan --------------
  private def generated(n: Int): DataFrame = {
    val rnd = new scala.util.Random(42)
    val bases = "ACGT"
    def seq(len: Int): String =
      (0 until len).map(_ => bases(rnd.nextInt(4))).mkString
    val rows = (0 until n).map { i =>
      val nEx = 1 + rnd.nextInt(3)
      var cursor = 11L
      val exons = (0 until nEx).map { _ =>
        val len = 30 + rnd.nextInt(60)
        val s = cursor
        cursor += len + 20 + rnd.nextInt(30) // intron gap
        (s, s + len - 1)
      }
      val exLen = exons.map { case (s, e) => (e - s + 1).toInt }.sum
      val strand = if (rnd.nextInt(4) == 0) "-" else "+"
      val cdna = "ATG" + seq(exLen - 3)
      val startCodon =
        if (rnd.nextInt(5) == 0) None else Some(exons.head._1)
      // spliced coordinate of a genomic position inside exon k
      def spliced(k: Int, pos: Long): Int =
        exons.take(k).map { case (s, e) => (e - s + 1).toInt }.sum +
          (pos - exons(k)._1).toInt
      val nVar = 1 + rnd.nextInt(3)
      val changes = (0 until nVar).map { j =>
        val k = rnd.nextInt(nEx)
        val (s, e) = exons(k)
        val pos = s + rnd.nextInt((e - s + 1).toInt)
        val kind = rnd.nextInt(10)
        val sp = spliced(k, pos)
        val refLen = kind match {
          case 0 | 1 => 1 + rnd.nextInt(4) // deletion-ish
          case _ => 1
        }
        val ref =
          if (strand == "+" && sp + refLen <= cdna.length)
            cdna.substring(sp, sp + refLen) // consistent: applies cleanly
          else seq(refLen) // random: exercises the mismatch/ok=false path
        val alt = kind match {
          case 2 | 3 => ref + seq(1 + rnd.nextInt(3)) // insertion
          case _ => seq(1)
        }
        (pos, s"v${i}_$j", ref, alt)
      }.sortBy(_._1)
      (exons, startCodon, strand, cdna, changes, s"G$i")
    }
    rows.map { case (ex, sc, st, cd, ch, tx) =>
      inline(ex, sc, st, cd, ch, tx)
    }.reduce(_ unionByName _)
  }

  test("edge-case haplotypes match under every declared flag combo") {
    everyCombo(edgeCases, "edges")
  }

  test("generated corpus (120 haplotypes, mixed shapes) matches") {
    val corpus = generated(120).localCheckpoint()
    everyCombo(corpus, "generated")
    corpus.unpersist(blocking = false)
  }
}
