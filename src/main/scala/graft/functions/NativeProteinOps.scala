package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** Compiled kernels for the ProHap protein-pipeline per-row folds.
  *
  * These kernels are the only implementation of the per-variant /
  * per-haplotype sequential state of
  * [[graft.operators.HaploProteins.proteinDatabase]]. They replaced
  * Catalyst higher-order functions (`aggregate` / `transform` /
  * `zip_with`), which evaluate INTERPRETED — per array element Spark
  * re-walks a large `when`-chain expression tree and rebinds lambda
  * variables, which made the protein family (px/px10/pv1, ~12.7 s
  * combined at sf0.1) the largest CPU sink of the operator bench (do the
  * heavy lifting in compiled code, initialise state once).
  *
  * Each kernel here is a LINE-FOR-LINE transcription of one of those
  * expression trees. The trees are kept, as code, in src/test
  * (`HaploProteinsHofReference`), and HaploProteinsKernelSpec evaluates
  * each kernel next to its transcription on the rows the pipeline feeds
  * it; the outputs must match exactly.
  * String semantics reuse the exact Catalyst primitives:
  * `UTF8String.substringSQL` (= `Column.substr`), `UTF8String.concat`
  * (= `concat`), char-count lengths (= `length`), and
  * [[NativeSeqOps.translateDna]] (= `dna.translateDna`). Arithmetic
  * follows Catalyst coercions: `floor`/`ceil` of a double divide return
  * long, long->int casts truncate, `pmod` is the positive remainder,
  * and integral `a / b` under Catalyst's double coercion truncates
  * toward zero exactly like JVM integer division on these magnitudes.
  */
object NativeProteinOps {

  private val Dash = UTF8String.fromString("-")
  private val Star = UTF8String.fromString("*")
  private val Splice = UTF8String.fromString("splice")
  private val StartLost = UTF8String.fromString("start_lost")
  private val Snp = UTF8String.fromString("SNP")
  private val CSpliceVariant = UTF8String.fromString("splice_variant")
  private val CStartLost = StartLost
  private val CSynonymous = UTF8String.fromString("synonymous")
  private val CStopLost = UTF8String.fromString("stop_lost")
  private val CStopGained = UTF8String.fromString("stop_gained")
  private val CSav = UTF8String.fromString("SAV")
  private val CFrameshift = UTF8String.fromString("frameshift")
  private val CInframeIndel = UTF8String.fromString("inframe_indel")

  /** Catalyst `pmod(a, n)` for ints. */
  private def pmod(a: Int, n: Int): Int = {
    val r = a % n
    if (r < 0) (r + n) % n else r
  }

  // ---- coordinates_toolbox.get_rna_position ------------------------------
  /** The [[graft.operators.HaploProteins]] `rnaAllele` fold: spliced rna
    * position of `dnaLoc0`, allele truncation at exon borders with
    * reach-into-next-exon reassembly, and the splice-junction flag.
    *
    * `exons` is array<struct<start:long,end:long>> sorted by start;
    * returns struct<rna:long, ref:string, alt:string, intersect:int>
    * (intersect nullable). Field-for-field the reference aggregate's merge
    * expression, evaluated with the old accumulator values exactly as
    * Catalyst does (every branch below reads only pre-update state).
    */
  def rnaAllele(exons: ArrayData, dnaLoc0: Long, ref0: UTF8String,
                alt0: UTF8String): InternalRow = {
    val n = exons.numElements()
    var rna = 0L
    var found = false
    var ref = ref0
    var alt = alt0
    var loc = dnaLoc0
    var intersect: Any = null
    var i = 0
    while (i < n) {
      val e = exons.getStruct(i, 2)
      val s = e.getLong(0)
      val en = e.getLong(1)
      val hasNs = i + 1 < n
      val ns = if (hasNs) exons.getStruct(i + 1, 2).getLong(0) else 0L

      val refLen = ref.numChars().toLong
      val before = en < loc
      // allele begins in the intron before this exon: truncate front
      val fromIntron = s > loc
      val intronicLen = (s - loc).toInt
      val refT =
        if (fromIntron) ref.substringSQL(intronicLen + 1, ref.numChars())
        else ref
      val altT =
        if (fromIntron) alt.substringSQL(intronicLen + 1, alt.numChars())
        else alt
      val locT = if (fromIntron) s else loc

      // allele runs past the exon end: cut the intronic middle; when the
      // allele reaches INTO the next exon, splice its tail back on
      val refLenT = refT.numChars().toLong
      val altLenT = altT.numChars().toLong
      val pastEnd = locT + refLenT > en
      val remaining = (en - locT + 1).toInt
      val startAgain = (ns - locT).toInt
      val refReach = hasNs && (locT + refLenT > ns)
      val refT2 =
        if (pastEnd) {
          if (refReach)
            UTF8String.concat(refT.substringSQL(1, remaining),
              refT.substringSQL(startAgain + 1, refT.numChars()))
          else refT.substringSQL(1, remaining)
        } else refT
      val altPast = locT + altLenT > en
      val altReach = hasNs && (locT + altLenT > ns)
      val altT2 =
        if (pastEnd && altPast) {
          if (altReach)
            UTF8String.concat(altT.substringSQL(1, remaining),
              altT.substringSQL(startAgain + 1, altT.numChars()))
          else altT.substringSQL(1, remaining)
        } else altT
      // when(pastEnd, i+1).when(en-locT+refLenT < 3, i+1)
      //   .when(locT-s < 3, i) — null otherwise
      val intersectBack: Any =
        if (pastEnd) Integer.valueOf(i + 1)
        else if (en - locT + refLenT < 3) Integer.valueOf(i + 1)
        else if (locT - s < 3) Integer.valueOf(i)
        else null
      val intersectFront: Any =
        if (fromIntron) Integer.valueOf(i) else null

      val hit = !before && (s < loc + math.max(refLen, 1L))
      // every update below reads only the OLD accumulator fields
      val newRna =
        if (found) rna
        else if (before) rna + (en - s + 1)
        else if (hit) rna + (locT - s)
        else rna
      if (!found && hit) {
        ref = refT2
        alt = altT2
        loc = locT
        // the back-junction flag overwrites the front flag when both
        // apply, mirroring the reference's assignment order
        intersect = if (intersectBack != null) intersectBack
          else intersectFront
      }
      rna = newRna
      found = found || hit
      i += 1
    }
    new GenericInternalRow(Array[Any](rna, ref, alt, intersect))
  }

  // ---- coordinates_toolbox.get_affected_codons ---------------------------
  /** The `affected` transform: residues covered by [loc, loc+alen) as an
    * array of struct<ploc:long, aa:string> — one entry for a known
    * frame (ploc offset by pstart), three (frames 0,1,2, no offset)
    * when rf == -1. aa = '-' when no full codon is covered.
    */
  def affected(cdna: UTF8String, loc: Long, alen: Long, rf: Long,
               pstart: Long): ArrayData = {
    val nf = if (rf == -1L) 3 else 1
    val out = new Array[Any](nf)
    var k = 0
    while (k < nf) {
      val f = if (rf == -1L) k.toLong else rf
      val base = math.floor((loc - f).toDouble / 3.0).toLong
      val ploc = if (rf == -1L) base else base - pstart
      val bpFrom0 = base * 3 + f
      val bpFrom = math.max(math.max(bpFrom0, 0L), f)
      val bpTo = math.ceil((loc + alen - f).toDouble / 3.0).toLong * 3 + f
      val aa: UTF8String =
        if (bpTo - bpFrom > 2)
          NativeSeqOps.translateDna(
            cdna.substringSQL((bpFrom + 1).toInt, (bpTo - bpFrom).toInt), 0)
        else Dash
      out(k) = new GenericInternalRow(Array[Any](ploc, aa))
      k += 1
    }
    new GenericArrayData(out)
  }

  // `vars` element layout — MUST match the struct collected in
  // HaploProteins step 4 (ord, pos, varId, af, refDna, altDna, ref, alt,
  // rna, refLen, altLen, isFs, offBefore, intersect):
  private final val VOrd = 0
  private final val VRef = 6
  private final val VAlt = 7
  private final val VRna = 8
  private final val VRefLen = 9
  private final val VAltLen = 10
  private final val VIsFs = 11
  private final val VFields = 14

  // ---- process_haplotypes.check_start_change -----------------------------
  /** The start-codon shift/loss fold over the ordered variant array.
    * Returns struct<sl:long, rf:int, ps:long, lost:boolean,
    * invalid:boolean, lostOrd:long>.
    */
  def startState(vars: ArrayData, sl0: Long, rf0: Int, ps0: Long,
                 hasStart: Boolean, forceRf: Boolean,
                 skipStartLoss: Boolean): InternalRow = {
    var sl = sl0
    var rf = rf0
    var ps = ps0
    var lost = false
    var invalid = false
    var lostOrd = -1L
    val n = vars.numElements()
    var i = 0
    while (i < n) {
      val v = vars.getStruct(i, VFields)
      val applies = hasStart && rf > -1 && !lost
      val vloc = v.getLong(VRna)
      val refLen = v.getLong(VRefLen)
      val delta = v.getLong(VAltLen) - refLen
      val beforeStart = vloc < sl + 3
      val hitsStart = vloc + refLen > sl
      val isFs = v.getBoolean(VIsFs)
      val lostNow = applies && beforeStart &&
        (hitsStart || (isFs && !forceRf))
      val shifted = applies && beforeStart && !hitsStart && !lostNow
      val newRf = if (shifted && isFs) pmod(rf + delta.toInt, 3) else rf
      val newSl = if (lostNow) 0L else if (shifted) sl + delta else sl
      // (newSl - newRf) / 3 under Catalyst's double coercion truncates
      // toward zero = JVM long division on these (non-huge) magnitudes
      val newPs =
        if (lostNow) 0L
        else if (shifted) (newSl - newRf) / 3
        else ps
      if (lostNow) lostOrd = v.getInt(VOrd).toLong
      invalid = invalid || (lostNow && skipStartLoss)
      lost = lost || lostNow
      sl = newSl
      // start loss drops to the unknown-frame path
      rf = if (lostNow) -1 else newRf
      ps = newPs
      i += 1
    }
    new GenericInternalRow(Array[Any](sl, rf, ps, lost, invalid, lostOrd))
  }

  // ---- mutated-cDNA construction (process_haplotypes.py:260-285) ---------
  /** Apply the ordered variants to the cDNA with a cumulative indel
    * offset; `ok` goes false (and the sequence freezes) on the first
    * REF mismatch. Returns struct<s:string, ok:boolean>.
    */
  def applyVars(vars: ArrayData, cdna: UTF8String): InternalRow = {
    var s = cdna
    var off = 0L
    var ok = true
    val n = vars.numElements()
    var i = 0
    while (i < n) {
      val v = vars.getStruct(i, VFields)
      val rna = v.getLong(VRna) + off
      val refLen = v.getLong(VRefLen)
      val matches = s.substringSQL((rna + 1).toInt, refLen.toInt)
        .equals(v.getUTF8String(VRef))
      if (ok && matches)
        s = UTF8String.concat(s.substringSQL(1, rna.toInt),
          v.getUTF8String(VAlt),
          s.substringSQL((rna + refLen + 1).toInt, s.numChars()))
      off = off + v.getLong(VAltLen) - refLen
      ok = ok && matches
      i += 1
    }
    new GenericInternalRow(Array[Any](s, ok))
  }

  // ---- per-variant consequence over the frame arrays ---------------------
  /** The perFrame zip_with + its three consumers fused: per-frame
    * consequence and change strings '|'-joined, plus the all-frames
    * synonymous flag. `refA`/`altA` are [[affected]] outputs (same
    * length by construction — both derive from the same rf==-1 test).
    * Returns struct<conseq:string, protch:string, syn:boolean>.
    */
  def conseq(refA: ArrayData, altA: ArrayData, dnaType: UTF8String,
             isFs: Boolean, hasFsBefore: Boolean): InternalRow = {
    val n = refA.numElements()
    require(n == altA.numElements(),
      s"frame arrays diverged: $n vs ${altA.numElements()}")
    val cb = new java.lang.StringBuilder(24 * n)
    val pb = new java.lang.StringBuilder(24 * n)
    var allSyn = true
    val isSplice = dnaType.equals(Splice)
    val isStartLost = dnaType.equals(StartLost)
    val isSnp = dnaType.equals(Snp)
    var k = 0
    while (k < n) {
      val r = refA.getStruct(k, 2)
      val a = altA.getStruct(k, 2)
      val refAa = r.getUTF8String(1)
      val altAa = a.getUTF8String(1)
      val syn = refAa.equals(altAa)
      val c0 =
        if (isSplice) CSpliceVariant
        else if (isStartLost) CStartLost
        else if (syn) CSynonymous
        else if (refAa.contains(Star) && !altAa.contains(Star)) CStopLost
        else if (!refAa.contains(Star) && altAa.contains(Star)) CStopGained
        else if (isSnp) CSav
        else if (isFs) CFrameshift
        else CInframeIndel
      if (k > 0) { cb.append('|'); pb.append('|') }
      cb.append(c0.toString)
      if (!isFs && hasFsBefore) cb.append("_after_fs")
      pb.append(r.getLong(0)).append(':').append(refAa.toString)
        .append('>').append(a.getLong(0)).append(':')
        .append(altAa.toString)
      if (isFs) pb.append("(+fs)")
      else if (hasFsBefore) pb.append("(fs)")
      allSyn = allSyn && syn
      k += 1
    }
    new GenericInternalRow(Array[Any](
      UTF8String.fromString(cb.toString),
      UTF8String.fromString(pb.toString), allSyn))
  }
}
