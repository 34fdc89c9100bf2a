package graft.perfbench

import java.io.{BufferedOutputStream, FileOutputStream, OutputStream,
  PrintWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.SplittableRandom
import java.util.zip.{CRC32, Deflater}
import scala.collection.mutable.ArrayBuffer
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.io.LocalOutputFile
import org.apache.parquet.schema.MessageTypeParser

/** Seeded input generator for the three benchmark workloads.
  *
  * {{{
  * Gen <workload> <seed> <dir> [key=value ...]
  * }}}
  *
  * Genomic cohorts (`prohap_cohort`, `provar_bcf`): a random reference on
  * two contigs carrying `transcripts` 3-exon transcripts on both strands,
  * each with a planted start codon, a stop-free coding sequence and a stop
  * codon. `vpt` variants per transcript are planted inside its exons with
  * REF read off the reference: SNVs, small insertions and deletions and
  * two-allele sites; an `overlap_share` of sites are a deletion with a SNV
  * planted inside it on purpose. AF is `0.5 * u^af_skew`, so most copies carry REF. Writes
  * `cohort.vcf.gz` (phased text VCF, bgzipped by [[BgzfOut]] below, not by
  * the program's own codec), `annotation.gtf`, `cdna.fa`, `samples.tsv`
  * and `planted.tsv` (variant id, transcript). `provar_bcf` also writes
  * `cohort_bcf/` through `Bcf.writeSharded`.
  *
  * Corpus (`corpus_neardup`): `docs` documents of Zipf-drawn words with
  * stray control characters and doubled spaces, `near_share` of them
  * near-copies (about 2% of words replaced) of an earlier document.
  * Writes `docs.parquet/` and `doc_ids.txt`.
  *
  * Every workload writes `manifest.json` with its sizes and the input
  * record count the benchmark divides by.
  */
object Gen {

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, dir) = args.take(3)
    val kv = args.drop(3).map { a =>
      val i = a.indexOf('='); a.take(i) -> a.drop(i + 1)
    }.toMap
    Files.createDirectories(Paths.get(dir))
    val seed = seedS.toLong
    val manifest = workload match {
      case "prohap_cohort" | "provar_bcf" =>
        genomic(workload, seed, dir, kv)
      case "corpus_neardup" => corpus(seed, dir, kv)
      case other => sys.error(s"unknown workload $other")
    }
    writeText(s"$dir/manifest.json", manifest)
  }

  private def writeText(path: String, s: String): Unit =
    Files.write(Paths.get(path), s.getBytes(UTF_8))

  private def json(kv: Seq[(String, Any)]): String = kv.map {
    case (k, v: String) => s""""$k": "$v""""
    case (k, v) => s""""$k": $v"""
  }.mkString("{", ", ", "}\n")

  // ------------------------------------------------------------ genomic

  private val Bases = "ACGT"
  private val Codons = (for (a <- Bases; b <- Bases; c <- Bases)
    yield s"$a$b$c").filterNot(Set("TAA", "TAG", "TGA"))
  private val Stops = Seq("TAA", "TAG", "TGA")
  private val Pops = Seq("GBR" -> "EUR", "FIN" -> "EUR", "CHB" -> "EAS",
    "JPT" -> "EAS", "YRI" -> "AFR", "LWK" -> "AFR", "PEL" -> "AMR")

  private def revcomp(s: String): String = s.reverse.map {
    case 'A' => 'T'; case 'C' => 'G'; case 'G' => 'C'; case 'T' => 'A'
    case c => c
  }

  private final case class Variant(chrom: String, pos: Long, id: String,
                                   ref: String, alts: Seq[String],
                                   afs: Seq[Double], transcript: String)

  private final case class Tx(id: String, chrom: String, strand: String,
                              exons: Seq[(Long, Long)], // genomic, sorted
                              startCodon: (Long, Long),
                              stopCodon: (Long, Long), mrna: String)

  private def genomic(workload: String, seed: Long, dir: String,
                      kv: Map[String, String]): String = {
    val nSamples = kv.getOrElse("samples", "200").toInt
    val nTx = kv.getOrElse("transcripts", "400").toInt
    val vpt = kv.getOrElse("vpt", "10").toInt
    val afSkew = kv.getOrElse("af_skew", "3").toDouble
    val overlap = kv.getOrElse("overlap_share", "0.02").toDouble
    val r = new SplittableRandom(seed)
    val contigs = Seq("1", "2")
    val genome = contigs.map(_ -> new StringBuilder).toMap
    val txs = ArrayBuffer[Tx]()
    def rnd(n: Int): String = {
      val sb = new StringBuilder(n)
      var i = 0
      while (i < n) { sb += Bases.charAt(r.nextInt(4)); i += 1 }
      sb.toString
    }
    // transcripts laid out one after another, half on each contig
    for (t <- 0 until nTx) {
      val chrom = contigs(t * contigs.size / math.max(nTx, 1))
      val g = genome(chrom)
      g ++= rnd(50 + r.nextInt(200))
      val exLens = Seq(90 + r.nextInt(80), 60 + r.nextInt(80),
        90 + r.nextInt(80))
      val introns = Seq(40 + r.nextInt(120), 40 + r.nextInt(120))
      val total = exLens.sum
      val utr5 = 3 + r.nextInt(15)
      val cdsLen = (total - utr5 - 3 - r.nextInt(15)) / 3 * 3
      val cds = "ATG" + Seq.fill(cdsLen / 3 - 2)(
        Codons(r.nextInt(Codons.size))).mkString +
        Stops(r.nextInt(Stops.size))
      val mrna = rnd(utr5) + cds + rnd(total - utr5 - cds.length)
      val strand = if (r.nextBoolean()) "+" else "-"
      // exon sequences in genomic order (+ strand reads mRNA forward)
      val genomicMrna = if (strand == "+") mrna else revcomp(mrna)
      val genLens = if (strand == "+") exLens else exLens.reverse
      val exons = ArrayBuffer[(Long, Long)]()
      var off = 0
      for (e <- genLens.indices) {
        val start = g.length + 1L
        g ++= genomicMrna.substring(off, off + genLens(e))
        exons += ((start, g.length.toLong))
        off += genLens(e)
        if (e < introns.size) g ++= rnd(introns(e))
      }
      // codon genomic spans: UTRs are shorter than the first/last exon,
      // so neither codon crosses a splice junction
      val stopOff = utr5 + cds.length - 3
      def span(mOff: Int): (Long, Long) =
        if (strand == "+") {
          val s = exonPos(exons.toSeq, mOff); (s, s + 2)
        } else {
          val e = exonPos(exons.toSeq, total - 1 - mOff); (e - 2, e)
        }
      txs += Tx(f"TX$t%06d", chrom, strand, exons.toSeq, span(utr5),
        span(stopOff), mrna)
    }
    contigs.foreach(c => genome(c) ++= rnd(500))

    val variants = ArrayBuffer[Variant]()
    var vid = 0
    def nextId(): String = { vid += 1; f"pb$vid%08d" }
    def af(): Double =
      math.max(0.0005, math.rint(0.5 * math.pow(r.nextDouble(), afSkew)
        * 10000) / 10000)
    for (tx <- txs) {
      val g = genome(tx.chrom)
      val positions = tx.exons.flatMap { case (s, e) => s to e }
        .toIndexedSeq
      val slot = positions.size / vpt
      require(slot >= 12, s"vpt=$vpt is too dense for ${positions.size}-base" +
        " transcripts")
      // exactly vpt records per transcript, one site per slot; a planted
      // overlap (a deletion with a SNV inside it) takes two records
      var left = vpt
      var i = 0
      while (left > 0) {
        // at least 10 bases between slots' sites: touching variants conflict
        val pos = positions(slot * i + 1 + r.nextInt(slot - 10))
        i += 1
        def base(p: Long) = g.charAt((p - 1).toInt).toString
        def otherBase(b: String) =
          Bases.filterNot(_ == b.head).charAt(r.nextInt(3)).toString
        def site(p: Long, ref: String, alts: Seq[String], afs: Seq[Double]) = {
          variants += Variant(tx.chrom, p, nextId(), ref, alts, afs, tx.id)
          left -= 1
        }
        val ref1 = base(pos)
        val inExon = tx.exons.exists(e => e._1 <= pos && pos + 3 <= e._2)
        val kind = r.nextDouble()
        if (left >= 2 && inExon && kind < overlap) {
          site(pos, ref1 + base(pos + 1) + base(pos + 2), Seq(ref1),
            Seq(af()))
          site(pos + 1, base(pos + 1), Seq(otherBase(base(pos + 1))),
            Seq(af()))
        } else if (kind < 0.82) {
          site(pos, ref1, Seq(otherBase(ref1)), Seq(af()))
        } else if (kind < 0.89) {
          site(pos, ref1, Seq(ref1 + rnd(1 + r.nextInt(3))), Seq(af()))
        } else if (kind < 0.95 && inExon) {
          val ref = (0 to 1 + r.nextInt(2)).map(j => base(pos + j)).mkString
          site(pos, ref, Seq(ref1), Seq(af()))
        } else {
          val a1 = otherBase(ref1)
          val a2 = Bases.filterNot(c => c == ref1.head || c == a1.head)
            .charAt(r.nextInt(2)).toString
          val f1 = af()
          site(pos, ref1, Seq(a1, a2),
            Seq(f1, math.max(0.0005, math.rint(f1 * 2000) / 10000)))
        }
      }
    }
    val samples = (1 to nSamples).map(i => f"S$i%05d")
    val contigLens = contigs.map(c => c -> genome(c).length.toLong)

    // samples.tsv with the reference CLI's header names
    val sp = new PrintWriter(s"$dir/samples.tsv", "UTF-8")
    sp.println("Sample name\tSex\tPopulation code\tSuperpopulation code")
    samples.foreach { s =>
      val (pop, sup) = Pops(r.nextInt(Pops.size))
      sp.println(s"$s\t${if (r.nextBoolean()) "male" else "female"}\t" +
        s"$pop\t$sup")
    }
    sp.close()

    writeGtf(s"$dir/annotation.gtf", txs.toSeq)
    writeCdna(s"$dir/cdna.fa", txs.toSeq)
    val pl = new PrintWriter(s"$dir/planted.tsv", "UTF-8")
    variants.foreach(v => pl.println(s"${v.id}\t${v.transcript}"))
    pl.close()

    // genotype rows: one phased call per sample, both copies drawn
    // independently from the site's allele frequencies
    val rows = variants.toSeq.sortBy(v => (v.chrom, v.pos)).map { v =>
      val gts = new Array[String](nSamples)
      var i = 0
      def draw(): Int = {
        val u = r.nextDouble()
        if (u < v.afs.head) 1
        else if (v.afs.size > 1 && u < v.afs.head + v.afs(1)) 2 else 0
      }
      while (i < nSamples) { gts(i) = s"${draw()}|${draw()}"; i += 1 }
      (v, gts)
    }
    val vcf = new BgzfOut(new BufferedOutputStream(
      new FileOutputStream(s"$dir/cohort.vcf.gz"), 1 << 16))
    val hdr = new StringBuilder
    hdr ++= "##fileformat=VCFv4.2\n"
    contigLens.foreach { case (c, l) =>
      hdr ++= s"##contig=<ID=$c,length=$l>\n" }
    hdr ++= "##INFO=<ID=AF,Number=A,Type=Float,Description=\"Allele " +
      "Frequency\">\n##FORMAT=<ID=GT,Number=1,Type=String," +
      "Description=\"Genotype\">\n#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER" +
      "\tINFO\tFORMAT\t" + samples.mkString("\t") + "\n"
    vcf.write(hdr.toString.getBytes(UTF_8))
    rows.foreach { case (v, gts) =>
      val line = s"${v.chrom}\t${v.pos}\t${v.id}\t${v.ref}\t" +
        s"${v.alts.mkString(",")}\t.\tPASS\tAF=${afText(v.afs)}\tGT\t" +
        gts.mkString("\t") + "\n"
      vcf.write(line.getBytes(UTF_8))
    }
    vcf.close()

    if (workload == "provar_bcf") {
      val spark = Pass.session(kv.getOrElse("threads", "4"), "perfbench-gen")
      import spark.implicits._
      val df = rows.map { case (v, gts) =>
        (v.chrom, v.pos, v.id, v.ref, v.alts.mkString(","), ".", "PASS",
          s"AF=${afText(v.afs)}", gts.toSeq)
      }.toDF("chrom", "pos", "id", "ref", "alt", "qual", "filter", "info",
        "genotypes").coalesce(1)
      graft.sources.Bcf.writeSharded(df, contigLens, samples,
        s"$dir/cohort_bcf")
      spark.stop()
    }
    val records = variants.size.toLong
    json(Seq("workload" -> workload, "seed" -> seed, "samples" -> nSamples,
      "transcripts" -> nTx, "vpt" -> vpt, "af_skew" -> afSkew,
      "overlap_share" -> overlap, "records" -> records,
      "input_records" ->
        (if (workload == "prohap_cohort") records * nSamples else records)))
  }

  private def afText(afs: Seq[Double]): String = afs.map(a =>
    java.math.BigDecimal.valueOf(a).stripTrailingZeros.toPlainString)
    .mkString(",")

  /** Genomic coordinate of the `k`-th exonic base counted from the left. */
  private def exonPos(exons: Seq[(Long, Long)], k: Int): Long = {
    var left = k.toLong
    for ((s, e) <- exons) {
      val len = e - s + 1
      if (left < len) return s + left
      left -= len
    }
    sys.error("offset past the last exon")
  }

  private def writeGtf(path: String, txs: Seq[Tx]): Unit = {
    val w = new PrintWriter(path, "UTF-8")
    w.println("#!genome-build perfbench-synthetic")
    txs.foreach { t =>
      val gene = s"""gene_id "G${t.id.drop(2)}"; transcript_id "${t.id}";"""
      def line(f: String, s: Long, e: Long, extra: String = "") =
        w.println(s"${t.chrom}\tperfbench\t$f\t$s\t$e\t.\t${t.strand}\t.\t" +
          gene + extra)
      line("transcript", t.exons.head._1, t.exons.last._2,
        """ transcript_biotype "protein_coding";""")
      val inTxOrder = if (t.strand == "+") t.exons else t.exons.reverse
      inTxOrder.zipWithIndex.foreach { case ((s, e), i) =>
        line("exon", s, e, s""" exon_number "${i + 1}";""") }
      line("start_codon", t.startCodon._1, t.startCodon._2)
      line("stop_codon", t.stopCodon._1, t.stopCodon._2)
    }
    w.close()
  }

  private def writeCdna(path: String, txs: Seq[Tx]): Unit = {
    val w = new PrintWriter(path, "UTF-8")
    txs.foreach { t =>
      w.println(s">${t.id} cdna chromosome:perfbench:${t.chrom}")
      t.mrna.grouped(60).foreach(w.println)
    }
    w.close()
  }

  // ------------------------------------------------------------- corpus

  /** Documents parquet (`doc_id` bigint, `text` string) in `files` parts,
    * written with parquet's own example writer: no SparkSession needed.
    */
  private def writeDocs(dir: String, docs: Seq[(Long, String)],
                        files: Int): Unit = {
    val schema = MessageTypeParser.parseMessageType(
      "message doc { required int64 doc_id; required binary text (UTF8); }")
    val groups = new SimpleGroupFactory(schema)
    Files.createDirectories(Paths.get(dir))
    docs.grouped(math.max(1, (docs.size + files - 1) / files)).zipWithIndex
      .foreach { case (part, i) =>
        val w = ExampleParquetWriter.builder(
          new LocalOutputFile(Paths.get(f"$dir/part-$i%05d.parquet")))
          .withType(schema).build()
        try part.foreach { case (id, text) =>
          w.write(groups.newGroup().append("doc_id", id)
            .append("text", text))
        } finally w.close()
      }
  }

  private def corpus(seed: Long, dir: String,
                     kv: Map[String, String]): String = {
    val nDocs = kv.getOrElse("docs", "4000").toInt
    val nearShare = kv.getOrElse("near_share", "0.2").toDouble
    val vocabSize = kv.getOrElse("words", "5000").toInt
    val r = new SplittableRandom(seed)
    val vocab = Array.fill(vocabSize) {
      val n = 2 + r.nextInt(9)
      (0 until n).map(_ => ('a' + r.nextInt(26)).toChar).mkString
    }
    def word(): String =
      vocab((vocabSize * math.pow(r.nextDouble(), 2.5)).toInt)
    val ids = scala.collection.mutable.LinkedHashSet[Long]()
    while (ids.size < nDocs) ids += (r.nextLong() >>> 1)
    val originals = ArrayBuffer[Array[String]]()
    val texts = ids.toSeq.map { _ =>
      val words =
        if (originals.nonEmpty && r.nextDouble() < nearShare) {
          val w = originals(r.nextInt(originals.size)).clone()
          (0 until math.max(1, w.length / 50))
            .foreach(_ => w(r.nextInt(w.length)) = word())
          w
        } else {
          val w = Array.fill(60 + r.nextInt(140))(word())
          originals += w
          w
        }
      val sb = new StringBuilder
      words.zipWithIndex.foreach { case (w, i) =>
        if (i > 0) sb ++= (r.nextInt(40) match {
          case 0 => "  "; case 1 => "\t"; case 2 => " \u0001"; case _ => " "
        })
        sb ++= w
      }
      sb.toString
    }
    writeDocs(s"$dir/docs.parquet", ids.toSeq.zip(texts), files = 8)
    writeText(s"$dir/doc_ids.txt", ids.mkString("", "\n", "\n"))
    json(Seq("workload" -> "corpus_neardup", "seed" -> seed, "docs" -> nDocs,
      "near_share" -> nearShare, "words" -> vocabSize,
      "input_records" -> nDocs))
  }
}

/** Minimal BGZF writer (SAM spec §4.1): independent raw-deflate members of
  * at most 0xff00 input bytes, each with the `BC` extra subfield carrying
  * the member size, then the 28-byte empty EOF member. Kept separate from
  * the program's own codec so a codec bug cannot cancel itself out.
  */
final class BgzfOut(out: OutputStream) {
  private val MaxBlock = 0xff00
  private val buf = new Array[Byte](MaxBlock)
  private var n = 0
  private val deflater = new Deflater(6, true)
  private val crc = new CRC32
  private val cbuf = new Array[Byte](MaxBlock + 1024)

  def write(bytes: Array[Byte]): Unit = {
    var off = 0
    while (off < bytes.length) {
      val k = math.min(MaxBlock - n, bytes.length - off)
      System.arraycopy(bytes, off, buf, n, k)
      n += k; off += k
      if (n == MaxBlock) flushBlock()
    }
  }

  private def le16(v: Int): Unit = { out.write(v & 0xff); out.write(v >>> 8) }
  private def le32(v: Long): Unit = {
    le16((v & 0xffff).toInt); le16(((v >>> 16) & 0xffff).toInt)
  }

  private def member(data: Array[Byte], len: Int): Unit = {
    deflater.reset(); deflater.setInput(data, 0, len); deflater.finish()
    var clen = 0
    while (!deflater.finished())
      clen += deflater.deflate(cbuf, clen, cbuf.length - clen)
    crc.reset(); crc.update(data, 0, len)
    out.write(Array[Byte](0x1f, 0x8b.toByte, 8, 4, 0, 0, 0, 0, 0,
      0xff.toByte, 6, 0, 'B', 'C', 2, 0))
    le16(clen + 25) // BSIZE = total member size - 1
    out.write(cbuf, 0, clen)
    le32(crc.getValue)
    le32(len.toLong)
  }

  private def flushBlock(): Unit = if (n > 0) { member(buf, n); n = 0 }

  def close(): Unit = {
    flushBlock()
    member(buf, 0) // empty member = the BGZF EOF marker
    out.close()
    deflater.end()
  }
}
