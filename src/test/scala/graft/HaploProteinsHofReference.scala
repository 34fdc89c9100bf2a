package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.functions.dna

/** Reference implementation of the five protein kernels
  * ([[graft.plans.ProteinExprs]] / [[graft.functions.NativeProteinOps]])
  * as Catalyst higher-order-function expressions: the expression trees
  * [[graft.operators.HaploProteins.proteinDatabase]] evaluated before the
  * kernels replaced them, and which the kernels transcribe line for
  * line. Each builder takes the same arguments as its `ProteinExprs`
  * counterpart and returns the same type, so HaploProteinsKernelSpec can
  * evaluate both on the same input rows.
  */
object HaploProteinsHofReference {

  // ---- coordinates_toolbox.get_rna_position ------------------------------
  /** Fold over exons computing the spliced position of `dnaLoc` and
    * truncating alleles that cross exon borders. Alleles that reach over
    * the intron into the NEXT exon are reassembled across the junction
    * (ref[:remaining] + ref[next.start - loc:]) exactly as
    * coordinates_toolbox.py:46-52 / 62-68 do.
    * Returns struct(rna, ref, alt, intersect).
    */
  def rnaAllele(exons: Column, dnaLoc0: Column, ref0: Column,
                alt0: Column): Column = {
    val indexed = transform(exons, (e, i) =>
      struct(e.getField("start").as("s"), e.getField("end").as("en"),
        i.as("i"),
        get(exons, i + 1).getField("start").as("ns")))
    aggregate(
      indexed,
      struct(lit(0L).as("rna"), lit(false).as("found"), ref0.as("ref"),
        alt0.as("alt"), dnaLoc0.as("loc"),
        lit(null).cast("int").as("intersect")),
      (acc, e) => {
        val found = acc.getField("found")
        val loc = acc.getField("loc")
        val ref = acc.getField("ref")
        val alt = acc.getField("alt")
        val refLen = length(ref)
        val s = e.getField("s")
        val en = e.getField("en")
        val i = e.getField("i")

        val before = en < loc
        // allele begins in the intron before this exon: truncate front
        val fromIntron = s > loc
        val intronicLen = (s - loc).cast("int")
        val refT = when(fromIntron, ref.substr(intronicLen + 1, length(ref)))
          .otherwise(ref)
        val altT = when(fromIntron, alt.substr(intronicLen + 1, length(alt)))
          .otherwise(alt)
        val locT = when(fromIntron, s).otherwise(loc)
        val intersectFront = when(fromIntron, i.cast("int"))

        // allele runs past the exon end: cut the intronic middle; when the
        // allele reaches INTO the next exon, splice its tail back on
        // (coordinates_toolbox.py "check if the mutation does not reach
        // into the next exon")
        val refLenT = length(refT)
        val altLenT = length(altT)
        // reference: "dna_location + ref_len > exon.end" — with 1-based
        // inclusive coordinates this fires for alleles ending exactly AT
        // the exon end too (they get the splice flag, and an insertion at
        // the last base has its alt truncated below)
        val pastEnd = locT + refLenT > en
        val remaining = (en - locT + 1).cast("int")
        val ns = e.getField("ns")
        val startAgain = (ns - locT).cast("int")
        val refReach = ns.isNotNull && (locT + refLenT > ns)
        val refT2 = when(pastEnd,
          when(refReach, concat(refT.substr(lit(1), remaining),
            refT.substr(startAgain + 1, length(refT))))
            .otherwise(refT.substr(lit(1), remaining)))
          .otherwise(refT)
        val altPast = locT + altLenT > en
        val altReach = ns.isNotNull && (locT + altLenT > ns)
        val altT2 = when(pastEnd && altPast,
          when(altReach, concat(altT.substr(lit(1), remaining),
            altT.substr(startAgain + 1, length(altT))))
            .otherwise(altT.substr(lit(1), remaining)))
          .otherwise(altT)
        val intersectBack = when(pastEnd, i.cast("int") + 1)
          .when(en - locT + refLenT < 3, i.cast("int") + 1)
          .when(locT - s < 3, i.cast("int"))

        val hit = !before && (s < loc + greatest(refLen, lit(1)))
        struct(
          when(found, acc.getField("rna"))
            .when(before, acc.getField("rna") + (en - s + 1))
            .when(hit, acc.getField("rna") + (locT - s))
            .otherwise(acc.getField("rna")).as("rna"),
          (found || hit).as("found"),
          when(!found && hit, refT2).otherwise(ref).as("ref"),
          when(!found && hit, altT2).otherwise(alt).as("alt"),
          when(!found && hit, locT).otherwise(loc).as("loc"),
          // the back-junction flag overwrites the front flag when both
          // apply, mirroring the reference's assignment order
          when(found, acc.getField("intersect"))
            .when(hit, coalesce(intersectBack, intersectFront))
            .otherwise(acc.getField("intersect")).as("intersect"))
      },
      acc => struct(acc.getField("rna").as("rna"),
        acc.getField("ref").as("ref"), acc.getField("alt").as("alt"),
        acc.getField("intersect").as("intersect")))
  }

  // ---- coordinates_toolbox.get_affected_codons ---------------------------
  /** Residues covered by [loc, loc+len): an ARRAY of struct(ploc, aa), one
    * entry per reading frame — a single entry when rf is known (ploc offset
    * by pstart), or three entries (frames 0,1,2, no pstart offset) when
    * rf == -1, matching get_affected_codons' unknown-frame expansion
    * (coordinates_toolbox.py:139-172). aa = '-' when no full codon covered.
    */
  def affected(cdnaSeq: Column, loc: Column, alen: Column,
               rf: Column, pstart: Column): Column = {
    val frames = when(rf === -1, array(lit(0L), lit(1L), lit(2L)))
      .otherwise(array(rf))
    transform(frames, f => {
      val ploc = when(rf === -1, floor((loc - f) / 3.0).cast("long"))
        .otherwise(floor((loc - f) / 3.0).cast("long") - pstart)
      val bpFrom0 = floor((loc - f) / 3.0).cast("long") * 3 + f
      val bpFrom = greatest(greatest(bpFrom0, lit(0L)), f)
      val bpTo = ceil((loc + alen - f) / 3.0).cast("long") * 3 + f
      val aa = when(bpTo - bpFrom > 2,
        dna.translateDna(cdnaSeq.substr((bpFrom + 1).cast("int"),
          (bpTo - bpFrom).cast("int"))))
        .otherwise(lit("-"))
      struct(ploc.as("ploc"), aa.as("aa"))
    })
  }

  // ---- process_haplotypes.check_start_change -----------------------------
  /** Start-codon shift/loss fold over the ordered variant array:
    * struct(sl, rf, ps, lost, invalid, lostOrd).
    */
  def startState(vars: Column, sl0: Column, rf0: Column, ps0: Column,
                 hasStart: Column, forceRf: Boolean,
                 skipStartLoss: Boolean): Column =
    aggregate(
      vars,
      struct(sl0.as("sl"), rf0.as("rf"), ps0.as("ps"), lit(false).as("lost"),
        lit(false).as("invalid"), lit(-1L).as("lostOrd")),
      (acc, v) => {
        val applies = hasStart && acc.getField("rf") > -1 &&
          !acc.getField("lost")
        val vloc = v.getField("rna")
        val delta = v.getField("altLen") - v.getField("refLen")
        val beforeStart = vloc < acc.getField("sl") + 3
        val hitsStart = vloc + v.getField("refLen") > acc.getField("sl")
        val isFs = v.getField("isFs")
        val lostNow = applies && beforeStart &&
          (hitsStart || (isFs && lit(!forceRf)))
        val shifted = applies && beforeStart && !hitsStart && !lostNow
        val newRf = when(shifted && isFs,
          pmod(acc.getField("rf") + delta.cast("int"), lit(3)))
          .otherwise(acc.getField("rf"))
        val newSl = when(lostNow, lit(0L))
          .when(shifted, acc.getField("sl") + delta)
          .otherwise(acc.getField("sl"))
        struct(
          newSl.as("sl"),
          // start loss drops to the unknown-frame path (check_start_change
          // returns (-1, -1)): downstream translates in all three frames
          when(lostNow, lit(-1)).otherwise(newRf).as("rf"),
          when(lostNow, lit(0L))
            .when(shifted, ((newSl - newRf) / 3).cast("long"))
            .otherwise(acc.getField("ps")).as("ps"),
          (acc.getField("lost") || lostNow).as("lost"),
          (acc.getField("invalid") ||
            (lostNow && lit(skipStartLoss))).as("invalid"),
          // ord of the variant that destroyed the start codon — its
          // dna-type becomes 'start_lost' (process_haplotypes.py:246)
          when(lostNow, v.getField("ord").cast("long"))
            .otherwise(acc.getField("lostOrd")).as("lostOrd"))
      })

  // ---- mutated cDNA: sequential concat fold ------------------------------
  /** Apply the ordered variants to the cDNA with cumulative indel offsets:
    * struct(s, ok), ok = false once a REF allele fails to match.
    */
  def applyVars(vars: Column, cdna: Column): Column =
    aggregate(
      vars,
      struct(cdna.as("s"), lit(0L).as("off"), lit(true).as("ok")),
      (acc, v) => {
        val rna = v.getField("rna") + acc.getField("off")
        val refLen = v.getField("refLen")
        val s = acc.getField("s")
        val matches = s.substr((rna + 1).cast("int"),
          refLen.cast("int")) === v.getField("ref")
        struct(
          when(acc.getField("ok") && matches,
            concat(s.substr(lit(1), rna.cast("int")), v.getField("alt"),
              s.substr((rna + refLen + 1).cast("int"), length(s))))
            .otherwise(s).as("s"),
          (acc.getField("off") + v.getField("altLen") - refLen).as("off"),
          (acc.getField("ok") && matches).as("ok"))
      },
      acc => struct(acc.getField("s").as("s"), acc.getField("ok").as("ok")))

  // ---- per-frame consequence ---------------------------------------------
  /** Per-frame consequence + change string over the zipped reference /
    * mutated frame arrays, '|'-joined, and the all-frames synonymous flag
    * ("if not all(is_synonymous)" in the reference):
    * struct(conseq, protch, syn).
    */
  def conseq(refA: Column, altA: Column, dnaType: Column, isFs: Column,
             hasFsBefore: Column): Column = {
    val perFrame = zip_with(refA, altA, (r, a) => {
      val refAa = r.getField("aa")
      val altAa = a.getField("aa")
      val c0 = when(dnaType === "splice", "splice_variant")
        .when(dnaType === "start_lost", "start_lost")
        .when(refAa === altAa, "synonymous")
        .when(refAa.contains("*") && !altAa.contains("*"), "stop_lost")
        .when(!refAa.contains("*") && altAa.contains("*"), "stop_gained")
        .when(dnaType === "SNP", "SAV")
        .when(isFs, "frameshift")
        .otherwise("inframe_indel")
      val cF = when(!isFs && hasFsBefore,
        concat(c0, lit("_after_fs"))).otherwise(c0)
      val pch = concat(r.getField("ploc").cast("string"), lit(":"), refAa,
        lit(">"), a.getField("ploc").cast("string"), lit(":"), altAa,
        when(isFs, "(+fs)")
          .when(hasFsBefore, "(fs)").otherwise(lit("")))
      struct(cF.as("conseq"), pch.as("pch"), (refAa === altAa).as("syn"))
    })
    struct(
      array_join(transform(perFrame, p => p.getField("conseq")), "|")
        .as("conseq"),
      array_join(transform(perFrame, p => p.getField("pch")), "|")
        .as("protch"),
      forall(perFrame, p => p.getField("syn")).as("syn"))
  }
}
