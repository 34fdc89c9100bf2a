package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.fixtures.GenomicFixtures
import graft.operators.{HaploProteins, Haplotypes, PeptideAnnotate,
  PeptideVariants}
import graft.sources.Gtf

/** End-to-end ProHap/ProVar pipelines over the genomic fixtures:
  * VCF genotypes -> per-copy haplotypes -> mutated cDNA -> protein
  * database. The full pipeline is not expressible in one DuckDB SQL
  * statement, so h4/h5/pv1 are hash-checked against committed
  * expected-output snapshots (fixtures/expected/) that HaploProteinsSpec
  * independently asserts field-by-field from hand-computed reference
  * semantics; p2 has a real SQL oracle.
  */
object GenomicPipeline {

  private val fx = GenomicFixtures.dir
  private def prep(s: SparkSession): Unit = GenomicFixtures.ensure(s)

  /** Per-transcript annotation + cDNA: transcript, chrom, biotype, strand,
    * exons, start_codon_start, stop_codon_start, cdna.
    */
  def transcriptInfo(s: SparkSession): DataFrame =
    transcriptInfoFrom(Gtf.read(s, GenomicFixtures.gtfPath),
      s.read.parquet(s"$fx/cdna.parquet"))

  /** [[transcriptInfo]] from already-read frames — the entry point the
    * Prohap/Provar CLI mains use with arbitrary GTF/cDNA inputs.
    * `cdna0` columns: transcript_id, sequence.
    */
  def transcriptInfoFrom(gtf: DataFrame, cdna0: DataFrame): DataFrame = {
    val t = Gtf.transcriptsByBiotype(gtf, Seq("all"))
      .select(col("transcriptID").as("transcript"),
        col("chromosome").as("chrom"), col("biotype"), col("strand"))
    val exons = Gtf.exonsByTranscript(gtf)
      .withColumnRenamed("transcript_id", "transcript")
    def codonStart(feature: String, out: String) = gtf
      .where(col("feature") === feature)
      .select(Gtf.attr(col("attributes"), "transcript_id").as("transcript"),
        col("start"))
      .groupBy("transcript").agg(min(col("start")).as(out))
    val cdna = cdna0
      .withColumnRenamed("transcript_id", "transcript")
      .withColumnRenamed("sequence", "cdna")
    t.join(exons, Seq("transcript"))
      .join(codonStart("start_codon", "start_codon_start"),
        Seq("transcript"), "left")
      .join(codonStart("stop_codon", "stop_codon_start"),
        Seq("transcript"), "left")
      .join(cdna, Seq("transcript")) // transcripts without cDNA are skipped
  }

  /** Haplotype rows with full variant detail arrays (conflicts dropped),
    * counts and frequencies — get_haplotypes.py output shape, plus the
    * transcript annotation columns proteinDatabase needs.
    */
  def haploInput(s: SparkSession): DataFrame =
    haploInputFrom(s.read.parquet(s"$fx/gts_long.parquet"),
      Some(s.read.parquet(s"$fx/samples_meta.parquet")),
      transcriptInfo(s))

  /** [[haploInput]] from already-built frames — the entry point the
    * Prohap CLI main uses. `meta` (sample, population, superpopulation)
    * is optional: without it the population rollup strings are "-".
    */
  def haploInputFrom(gts: DataFrame, metaOpt: Option[DataFrame],
                     tinfo: DataFrame): DataFrame = {
    val ph = Haplotypes.phased(gts)
    val universe = ph.select("transcript", "sample", "phase").distinct()
    val copyCounts = universe.groupBy("transcript")
      .agg(count(lit(1)).as("total_copies"))

    // one heavy shuffle of the genotype matrix: per-copy variant lists.
    // Both the haplotype grouping and the population rollup derive from
    // this shared table (it previously ran twice — once here, once inside
    // populationFrequencies). Persisted because two branches consume it;
    // it is per-copy pre-aggregated, i.e. far smaller than the matrix.
    val sigDetail = ph.where(col("has_alt"))
      .groupBy("transcript", "sample", "phase")
      .agg(
        array_sort(collect_list(struct(col("pos"), col("varId"),
          col("ref"), col("alt"), col("allele_af").as("af"))))
          .as("changes"),
        Haplotypes.hasConflict(collect_list(struct(col("pos"),
          length(col("ref")).as("refLen")))).as("conflict"))
    val perCopy = universe.join(sigDetail,
        Seq("transcript", "sample", "phase"), "left")
      .withColumn("conflict", coalesce(col("conflict"), lit(false)))
      .withColumn("signature", when(col("changes").isNull, lit("REF"))
        .otherwise(array_join(transform(col("changes"),
          v => v.getField("varId")), ";")))
      .persist()
    pendingCaches.add(perCopy)

    val haplos = perCopy
      .where(col("changes").isNotNull && !col("conflict"))
      .groupBy("transcript", "signature")
      .agg(
        first(col("changes")).as("changes"),
        count(lit(1)).as("hap_count"),
        array_join(
          transform(array_sort(collect_list(struct(col("sample"),
            col("phase")))), s0 => concat(s0.getField("sample"), lit(":"),
            s0.getField("phase").cast("string"))), ";").as("samples"))
      .join(copyCounts, Seq("transcript"))
      .withColumn("frequency",
        round(col("hap_count") / col("total_copies"), 6))
      .drop("total_copies")

    // population + superpopulation frequency strings "POP:0.00123;..."
    // (get_haplotypes.count_freq_pop format, 5 decimals, codes sorted) in
    // ONE rollup: the metadata is stacked with a level prefix so per-level
    // counts and denominators come out of a single shuffle. Conflicted and
    // REF copies stay in the denominators/rollup exactly like
    // populationFrequencies (h2/h2b semantics).
    val withPop = metaOpt match {
      case Some(meta) =>
        val stacked = meta.select(col("sample"),
          concat(lit("p|"), col("population")).as("population"))
          .unionByName(meta.select(col("sample"),
            concat(lit("s|"), col("superpopulation")).as("population")))
        val popCopies = universe.join(stacked, Seq("sample"))
          .groupBy("transcript", "population")
          .agg(count(lit(1)).as("pop_copies"))
        def strOf(lvl: String) = array_join(array_sort(collect_list(
          when(substring_index(col("population"), "|", 1) === lvl,
            concat(substring_index(col("population"), "|", -1), lit(":"),
              format_string("%.5f", col("pop_frequency")))))), ";")
        val popStrings = perCopy.join(stacked, Seq("sample"))
          .groupBy("transcript", "signature", "population")
          .agg(count(lit(1)).as("pop_count"))
          .join(popCopies, Seq("transcript", "population"))
          .withColumn("pop_frequency",
            round(col("pop_count") / col("pop_copies"), 6))
          .groupBy("transcript", "signature")
          .agg(strOf("p").as("freq_population"),
            strOf("s").as("freq_superpopulation"))
        haplos
          .join(popStrings, Seq("transcript", "signature"), "left")
          .na.fill("-", Seq("freq_population", "freq_superpopulation"))
      case None =>
        haplos.withColumn("freq_population", lit("-"))
          .withColumn("freq_superpopulation", lit("-"))
    }
    withPop.join(tinfo, Seq("transcript"))
  }

  /** ProVar input (process_variants.py): every distinct allele line as a
    * one-variant "haplotype" of its transcript, in the row shape
    * [[HaploProteins.proteinDatabase]] consumes (hap_count 1, frequency
    * 0, no samples). `variants` columns: transcript, varId (the VCF id),
    * pos, ref, alt, allele_af. Multi-allelic lines share a VCF id, so the
    * per-allele id becomes `id:alt` and rows don't merge (the reference
    * emits one row per allele line).
    */
  def variantInputFrom(variants: DataFrame, tinfo: DataFrame): DataFrame =
    variants
      .select("transcript", "varId", "pos", "ref", "alt", "allele_af")
      .distinct()
      .withColumn("varId", concat(col("varId"), lit(":"), col("alt")))
      .withColumn("changes", array(struct(col("pos"), col("varId"),
        col("ref"), col("alt"), col("allele_af").as("af"))))
      .withColumn("signature", col("varId"))
      .withColumn("hap_count", lit(1L))
      .withColumn("frequency", lit(0.0))
      .withColumn("samples", lit(""))
      .join(tinfo, Seq("transcript"))

  private var dbReady = false

  /** Frames persisted by haploInput; drained (unpersisted) once a
    * consumer has materialized — long-lived sessions would otherwise
    * accumulate dead cached blocks per haploInput call.
    */
  private val pendingCaches =
    new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()

  /** Unpersist every frame haploInput persisted. Callers that run
    * haploInput-derived plans directly (not via proteinDb) should call
    * this after their action.
    */
  def releaseCaches(): Unit = {
    var df = pendingCaches.poll()
    while (df != null) {
      // skip frames of an already-stopped session (nothing to release;
      // unpersist would throw — the driver endpoint is gone)
      if (!df.sparkSession.sparkContext.isStopped)
        df.unpersist(blocking = false)
      df = pendingCaches.poll()
    }
  }

  /** The protein database is consumed by h4/h5/p2 — materialize it once
    * per JVM instead of re-running the pipeline per query.
    */
  def proteinDb(s: SparkSession): DataFrame = synchronized {
    val path = s"$fx/protein_db.parquet"
    if (!dbReady) {
      // keepCdna: one pipeline run serves h4/h5/p2 (which drop or ignore
      // the cdna columns) AND the f9 cDNA FASTA output
      HaploProteins.proteinDatabase(haploInput(s), keepCdna = true)
        .write.mode("overwrite").parquet(path)
      dbReady = true
      releaseCaches() // the parquet is the product; drop the lineage cache
    }
    s.read.parquet(path)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "h4_protein_db" -> ((s, _) => {
      prep(s)
      proteinDb(s).drop("cdna_sequence", "cdna_start")
        .orderBy("transcript", "vcf_ids")
    }),

    "f9_cdna_write" -> ((s, _) => {
      prep(s)
      // ProHap -output_cdna_fasta round trip: dedup mutated cDNAs, write
      // as FASTA (header carries the haplotype list + start offset like
      // prohap.py:189), read back through the splittable reader
      import graft.sources.Fasta
      val out = s"$fx/cdna_fasta_written"
      Fasta.write(HaploProteins.dedupCdna(proteinDb(s))
        .select(lit("cdna").as("tag"),
          concat(lit("chap_"), substring(md5(col("cdna_sequence")), 1, 12))
            .as("accession"),
          concat(col("haplotypes"), lit(" start:"), col("cdna_start"))
            .as("description"),
          col("cdna_sequence").as("sequence")), out)
      Fasta.read(s, out).orderBy("accession")
    }),

    "h5_protein_dedup" -> ((s, _) => {
      prep(s)
      HaploProteins.dedupProteins(proteinDb(s))
    }),

    "p2_pep_annotate" -> ((s, _) => {
      prep(s)
      // combined search space: haplotype proteins (with variant metadata;
      // rf=-1 haplotypes contribute one entry per frame like the
      // reference's FASTA, process_haplotypes.py:456-470) + contaminant /
      // manual fixture entries (tags normalized like merge_duplicate_seq
      // .py:64-66: sp counts as cont) + the ENST-promoted reference
      // proteome entries (fix_headers.py use_ENST)
      val base = proteinDb(s).withColumn("_hap", concat(lit("haplo_"),
        col("transcript"), lit("_"), substring(md5(col("vcf_ids")), 1, 8)))
      val entries = when(col("alt_frame_sequences") === "-",
        array(struct(col("_hap").as("accession"),
          col("reading_frame").as("frame_idx"),
          col("protein_sequence").as("sequence"))))
        .otherwise(array(
          struct(concat(col("_hap"), lit("_f0")).as("accession"),
            lit(0).as("frame_idx"), col("protein_sequence").as("sequence")),
          struct(concat(col("_hap"), lit("_f1")).as("accession"),
            lit(1).as("frame_idx"),
            split(col("alt_frame_sequences"), ";").getItem(0)
              .as("sequence")),
          struct(concat(col("_hap"), lit("_f2")).as("accession"),
            lit(2).as("frame_idx"),
            split(col("alt_frame_sequences"), ";").getItem(1)
              .as("sequence"))))
      val db = base.select(explode(entries).as("e"),
        col("transcript"), col("chromosome"), col("all_protein_changes"),
        col("dna_changes"), col("protein_prefix_length"))
        .select(col("e.accession").as("accession"),
          lit("generic_enshap").as("tag"),
          col("transcript"), col("chromosome"),
          col("all_protein_changes"), col("dna_changes"),
          col("protein_prefix_length"),
          col("e.frame_idx").cast("int").as("frame_idx"),
          col("e.sequence").as("sequence"))
      val fixture = s.read.parquet(s"$fx/proteins.parquet")
        .select(col("accession"),
          when(col("tag") === "generic_sp", "generic_cont")
            .otherwise(col("tag")).as("tag"),
          lit(null).cast("string").as("transcript"),
          lit(null).cast("string").as("chromosome"),
          lit(null).cast("string").as("all_protein_changes"),
          lit(null).cast("string").as("dna_changes"),
          lit(0L).as("protein_prefix_length"),
          lit(null).cast("int").as("frame_idx"),
          col("sequence"))
      // ENST-keyed canonical entries (read_fasta keys by stable id, so a
      // duplicate promoted accession keeps one entry)
      val ensref = s.read.parquet(s"$fx/ensref.parquet")
        .select(regexp_extract(col("description"),
          "transcript:([A-Za-z0-9]+)", 1).as("accession"), col("sequence"))
        .where(col("accession") =!= "")
        .groupBy("accession").agg(max(col("sequence")).as("sequence"))
        .select(col("accession"), lit("generic_ensref").as("tag"),
          col("accession").as("transcript"),
          lit(null).cast("string").as("chromosome"),
          lit(null).cast("string").as("all_protein_changes"),
          lit(null).cast("string").as("dna_changes"),
          lit(0L).as("protein_prefix_length"),
          lit(null).cast("int").as("frame_idx"),
          col("sequence"))
      val proteins = db.unionByName(fixture).unionByName(ensref)
      // transcript -> gene annotation lookup (fixture GTF + Ensembl-style)
      val geneMap = Gtf.read(s, GenomicFixtures.gtfPath)
        .where(col("feature") === "transcript")
        .select(Gtf.attr(col("attributes"), "transcript_id")
          .as("transcript"),
          Gtf.attr(col("attributes"), "gene_id").as("gene"))
        .unionByName(s.read.parquet(s"$fx/ensref_tr.parquet")
          .select(col("transcript_id").as("transcript"),
            col("gene_id").as("gene")))
      // dump the combined tables for the DuckDB oracle
      proteins.write.mode("overwrite")
        .parquet(s"$fx/pep_proteins.parquet")
      geneMap.write.mode("overwrite").parquet(s"$fx/pep_genes.parquet")
      val matches = PeptideAnnotate.matchPeptides(
        s.read.parquet(s"$fx/peptides.parquet"), proteins, k = 4)
        .withColumn("pos", col("pos").cast("long"))
      PeptideVariants.annotate(matches, proteins.drop("sequence"),
        geneMap, s.read.parquet(s"$fx/refprot.parquet"))
    }),

    "pv1_provar" -> ((s, _) => {
      prep(s)
      // ProVar: one row per variant x transcript (no haplotype grouping,
      // UTRs kept, synonymous kept) — process_variants.py semantics
      HaploProteins.proteinDatabase(
        variantInputFrom(s.read.parquet(s"$fx/gts_long.parquet"),
          transcriptInfo(s)),
        ignoreUtr = false, skipStartLoss = false, requireNonSyn = false)
        .orderBy("transcript", "vcf_ids")
    })
  )

  /** p2 has a full SQL oracle over the dumped combined protein table.
    * h4/h5/pv1 (the end-to-end pipeline, not expressible as one SQL
    * statement) are hash-checked against committed expected-output
    * snapshots (fixtures/expected/, regenerated by graft.tools.Snapshot)
    * whose rows are independently asserted field-by-field against
    * hand-computed reference semantics in HaploProteinsSpec.
    */
  val oracles: Map[String, String] = {
    def snapshot(name: String) =
      s"SELECT * FROM read_parquet('/root/repo/fixtures/expected/$name.parquet')"
    Map(
      "h4_protein_db" -> snapshot("h4_protein_db"),
      "h5_protein_dedup" -> snapshot("h5_protein_dedup"),
      "f9_cdna_write" -> snapshot("f9_cdna_write"),
      "pv1_provar" -> snapshot("pv1_provar"),
      // Full DuckDB replica of PeptideVariants.annotate over the dumped
      // combined protein table: k-mer-free exhaustive matching, per-frame
      // change resolution, covered alt/ref alleles, canonical-alternative
      // reversion (list_reduce threads the reverted peptide through a
      // struct accumulator), and the rank-ordered first-occurrence-dedup
      // rollup (list_filter with index against list_position). Every
      // array_to_string is coalesced to '' because DuckDB returns NULL for
      // empty lists where Spark's array_join returns ''.
      "p2_pep_annotate" ->
        s"""WITH m AS (
  SELECT p.pepId, p.peptide, pr.accession, o.mpos AS pos
  FROM read_parquet('${fx}/peptides.parquet/*.parquet') p, read_parquet('${fx}/pep_proteins.parquet/*.parquet') pr,
    LATERAL (SELECT unnest([ii for ii in generate_series(1,
      length(pr.sequence) - length(p.peptide) + 1)
      if substr(pr.sequence, ii, length(p.peptide)) = p.peptide])
      AS mpos) o
  WHERE length(p.peptide) >= 4),
atab AS (
  SELECT transcript, list({'apos': apos, 'aref': aref, 'adna': adna}
      ORDER BY apos, aref, adna) AS ref_alleles
  FROM (
    SELECT transcript, apos, aref, min(adna) AS adna FROM (
      SELECT transcript,
        TRY_CAST(string_split(z[1], ':')[1] AS BIGINT) AS apos,
        regexp_extract(z[1], '^-?[0-9]+:([^>]*)>', 1) AS aref,
        string_split(regexp_extract(z[1], '>-?[0-9]+:(.*)$$', 1), '(')[1] AS aalt,
        chromosome || ':' || string_split(z[2], '>')[1] AS adna
      FROM (SELECT transcript, chromosome,
              unnest(list_zip(string_split(all_protein_changes, ';'),
                              string_split(dna_changes, ';'))) AS z
            FROM read_parquet('${fx}/pep_proteins.parquet/*.parquet')
            WHERE transcript IS NOT NULL AND all_protein_changes IS NOT NULL
              AND all_protein_changes != ''
              AND NOT contains(all_protein_changes, '|')))
    WHERE apos >= 0 AND aref != aalt
    GROUP BY transcript, apos, aref)
  GROUP BY transcript),
j AS (
  SELECT m.pepId, m.peptide, m.accession, m.pos, pr.tag, pr.transcript,
    pr.chromosome, pr.all_protein_changes, pr.dna_changes, pr.frame_idx,
    g.gene, rp.ref_sequence, atab.ref_alleles,
    row_number() OVER (PARTITION BY m.pepId ORDER BY m.accession, m.pos)
      AS rnk,
    CASE WHEN starts_with(m.accession, 'ENST')
      THEN split_part(m.accession, '_', 1) ELSE m.accession END AS acc2,
    starts_with(CASE WHEN starts_with(m.accession, 'ENST')
      THEN split_part(m.accession, '_', 1) ELSE m.accession END, 'ENST')
      AS isEnst,
    (pr.transcript IS NULL AND NOT contains(coalesce(pr.tag, ''), 'cont')
      AND NOT contains(coalesce(pr.tag, ''), 'ref')) AS manual,
    m.pos - 1 - coalesce(pr.protein_prefix_length, 0) AS pepStart,
    m.pos - 1 - coalesce(pr.protein_prefix_length, 0) + length(m.peptide)
      AS pepEnd,
    CASE WHEN pr.all_protein_changes IS NULL
        OR pr.all_protein_changes = '' THEN []
      WHEN contains(pr.all_protein_changes, '|') THEN
        list_transform(string_split(pr.all_protein_changes, ';'),
          ch -> string_split(ch, '|')[pr.frame_idx + 1])
      ELSE string_split(pr.all_protein_changes, ';') END AS chs,
    CASE WHEN pr.dna_changes IS NULL OR pr.dna_changes = '' THEN []
      ELSE string_split(pr.dna_changes, ';') END AS dnas
  FROM m JOIN read_parquet('${fx}/pep_proteins.parquet/*.parquet') pr USING (accession)
  LEFT JOIN read_parquet('${fx}/pep_genes.parquet/*.parquet') g ON g.transcript = pr.transcript
  LEFT JOIN read_parquet('${fx}/refprot.parquet/*.parquet') rp ON rp.transcript = pr.transcript
  LEFT JOIN atab ON atab.transcript = pr.transcript),
pm AS (
  SELECT *,
    coalesce(list_sum(list_transform(chs, ch ->
      CASE WHEN TRY_CAST(regexp_extract(ch, '>(-?[0-9]+):', 1) AS BIGINT) < pepStart THEN
        length(replace(translate(string_split(regexp_extract(ch, '>-?[0-9]+:(.*)$$', 1), '(')[1], 'I', 'L'), '-', '')) - length(replace(translate(regexp_extract(ch, '^-?[0-9]+:([^>]*)>', 1), 'I', 'L'), '-', ''))
      ELSE 0 END)), 0) AS preceding,
    coalesce(len(list_filter(chs, ch ->
      TRY_CAST(regexp_extract(ch, '>(-?[0-9]+):', 1) AS BIGINT) < pepStart AND ends_with(ch, '(+fs)'))) > 0, false) AS fs_before,
    list_filter(list_zip(chs, dnas), z ->
      (replace(translate(regexp_extract(z[1], '^-?[0-9]+:([^>]*)>', 1), 'I', 'L'), '-', '') != replace(translate(string_split(regexp_extract(z[1], '>-?[0-9]+:(.*)$$', 1), '(')[1], 'I', 'L'), '-', '') OR ends_with(z[1], '(+fs)'))
      AND TRY_CAST(regexp_extract(z[1], '>(-?[0-9]+):', 1) AS BIGINT) >= pepStart AND TRY_CAST(regexp_extract(z[1], '>(-?[0-9]+):', 1) AS BIGINT) < pepEnd
      AND translate(substr(peptide,
            CAST(TRY_CAST(regexp_extract(z[1], '>(-?[0-9]+):', 1) AS BIGINT) - pepStart AS INT) + 1,
            length(replace(translate(string_split(regexp_extract(z[1], '>-?[0-9]+:(.*)$$', 1), '(')[1], 'I', 'L'), '-', ''))), 'I', 'L')
        = substr(replace(translate(string_split(regexp_extract(z[1], '>-?[0-9]+:(.*)$$', 1), '(')[1], 'I', 'L'), '-', ''), 1,
            length(translate(substr(peptide,
              CAST(TRY_CAST(regexp_extract(z[1], '>(-?[0-9]+):', 1) AS BIGINT) - pepStart AS INT) + 1,
              length(replace(translate(string_split(regexp_extract(z[1], '>-?[0-9]+:(.*)$$', 1), '(')[1], 'I', 'L'), '-', ''))), 'I', 'L')))) AS covered
  FROM j),
pm2 AS (
  SELECT *,
    coalesce(list_filter(ref_alleles, a ->
      a.apos >= pepStart - preceding
      AND a.apos < pepStart - preceding + length(peptide)
      AND translate(substr(peptide,
            CAST(a.apos - (pepStart - preceding) AS INT) + 1,
            length(substr(translate(a.aref, 'I', 'L'), 1,
              CAST(length(peptide) - (a.apos - (pepStart - preceding))
                AS INT)))), 'I', 'L')
        = substr(translate(a.aref, 'I', 'L'), 1,
            CAST(length(peptide) - (a.apos - (pepStart - preceding))
              AS INT))), []) AS refCovered,
    list_reduce(list_prepend(
      {'loc': 0, 'r': '', 'a': '', 'pep': translate(peptide, 'I', 'L')},
      list_transform(
        list_reverse(list_sort(list_transform(covered, z ->
          {'loc': CAST(TRY_CAST(regexp_extract(z[1], '>(-?[0-9]+):', 1) AS BIGINT) - pepStart AS INT),
            'r': replace(translate(regexp_extract(z[1], '^-?[0-9]+:([^>]*)>', 1), 'I', 'L'), '-', ''), 'a': replace(translate(string_split(regexp_extract(z[1], '>-?[0-9]+:(.*)$$', 1), '(')[1], 'I', 'L'), '-', '')}))),
        c -> {'loc': c.loc, 'r': c.r, 'a': c.a, 'pep': ''})),
      (acc, x) -> {'loc': 0, 'r': '', 'a': '',
        'pep': acc.pep[1:x.loc] || x.r
          || acc.pep[x.loc + length(x.a) + 1:]}).pep AS reverted
  FROM pm),
pm3 AS (
  SELECT *,
    CASE WHEN transcript IS NOT NULL THEN
      coalesce(contains(translate(ref_sequence, 'I', 'L'), reverted), false)
    END AS canonAlt,
    CASE WHEN len(covered) > 0 THEN coalesce(array_to_string(
      list_filter(list_transform(covered, z ->
        CAST(TRY_CAST(regexp_extract(z[1], '>(-?[0-9]+):', 1) AS BIGINT) - pepStart AS VARCHAR) || ':' ||
          replace(translate(regexp_extract(z[1], '^-?[0-9]+:([^>]*)>', 1), 'I', 'L'), '-', '') || '>' || replace(translate(string_split(regexp_extract(z[1], '>-?[0-9]+:(.*)$$', 1), '(')[1], 'I', 'L'), '-', '')),
        (x, i) -> list_position(list_transform(covered, z ->
          CAST(TRY_CAST(regexp_extract(z[1], '>(-?[0-9]+):', 1) AS BIGINT) - pepStart AS VARCHAR) || ':' ||
            replace(translate(regexp_extract(z[1], '^-?[0-9]+:([^>]*)>', 1), 'I', 'L'), '-', '') || '>' || replace(translate(string_split(regexp_extract(z[1], '>-?[0-9]+:(.*)$$', 1), '(')[1], 'I', 'L'), '-', '')), x) = i),
      ';'), '') END AS covPep,
    CASE WHEN manual THEN acc2
      WHEN transcript IS NOT NULL THEN
        CASE WHEN len(covered) > 0 THEN transcript || ':' ||
          coalesce(array_to_string(list_filter(list_transform(covered, z -> z[1]),
            (x, i) -> list_position(list_transform(covered, z -> z[1]), x)
              = i), ';'), '')
        ELSE '' END
    END AS covProt,
    CASE WHEN manual THEN 'unknown'
      WHEN transcript IS NOT NULL THEN coalesce(array_to_string(list_transform(
        list_sort(list_concat(
          list_transform(covered, z ->
            {'gpos': TRY_CAST(string_split(z[2], ':')[1] AS BIGINT),
              's': coalesce(chromosome, '?') || ':' || z[2]}),
          list_transform(refCovered, a ->
            {'gpos': TRY_CAST(string_split(a.adna, ':')[2] AS BIGINT),
              's': a.adna}))), e -> e.s), ';'), '')
    END AS covDna,
    (fs_before OR coalesce(len(list_filter(covered, z -> ends_with(z[1], '(+fs)'))) > 0,
      false)) AS fs_any,
    coalesce(CAST(frame_idx AS VARCHAR), '-') AS rf
  FROM pm2),
rolled AS (
  SELECT pepId, peptide,
    max(contains(coalesce(tag, ''), 'cont')) AS isCont,
    max(contains(coalesce(tag, ''), 'ref')) AS isCanon,
    max(manual) AS foundVariant,
    coalesce(min(CASE WHEN canonAlt THEN len(covered) END), 999999)
      AS minChanges,
    max(coalesce(canonAlt, false)) AS hasCanonAlt,
    max(fs_any) AS hasFs,
    max(contains(coalesce(covDna, ''), '>')) AS hasAltAllele,
    count(*) AS n,
    sum(CASE WHEN isEnst THEN 1 ELSE 0 END) AS nEnst,
    count(DISTINCT CASE WHEN transcript IS NOT NULL THEN gene END)
      AS vNGenes,
    count(DISTINCT CASE WHEN isEnst THEN gene END) AS cNGenes,
    coalesce(list(covPep ORDER BY rnk) FILTER (covPep IS NOT NULL), [])
      AS lCovPep,
    coalesce(list(covProt ORDER BY rnk) FILTER (covProt IS NOT NULL), [])
      AS lCovProt,
    coalesce(list(covDna ORDER BY rnk) FILTER (covDna IS NOT NULL), [])
      AS lCovDna,
    coalesce(list(acc2 ORDER BY rnk), []) AS lProts,
    coalesce(list(transcript ORDER BY rnk)
      FILTER (transcript IS NOT NULL), []) AS lTranscripts,
    coalesce(list(gene ORDER BY rnk)
      FILTER (transcript IS NOT NULL AND gene IS NOT NULL), []) AS lGenes,
    coalesce(list(CAST(pos AS VARCHAR) ORDER BY rnk), []) AS lPositions,
    coalesce(list(CAST(preceding AS VARCHAR) ORDER BY rnk)
      FILTER (transcript IS NOT NULL), []) AS lPreceding,
    coalesce(list(rf ORDER BY rnk), []) AS lRfs,
    coalesce(list(acc2 ORDER BY rnk) FILTER (isEnst), []) AS lcProts,
    coalesce(list(gene ORDER BY rnk)
      FILTER (isEnst AND gene IS NOT NULL), []) AS lcGenes,
    coalesce(list(CAST(pos AS VARCHAR) ORDER BY rnk) FILTER (isEnst), [])
      AS lcPositions,
    coalesce(list(coalesce(array_to_string(list_transform(refCovered, a -> a.adna),
        ';'), '') ORDER BY rnk)
      FILTER (isEnst AND len(refCovered) > 0), []) AS lcDna
  FROM pm3 GROUP BY pepId, peptide)
SELECT pepId, peptide,
  CASE WHEN isCont THEN 'contaminant'
    WHEN isCanon THEN 'canonical'
    WHEN foundVariant THEN 'single-variant(ProVar)'
    WHEN minChanges > 1 AND minChanges < 999999 AND hasCanonAlt
      THEN 'multi-variant'
    WHEN hasAltAllele AND hasCanonAlt THEN 'single-variant'
    WHEN hasAltAllele AND NOT hasCanonAlt AND NOT hasFs
      THEN 'variant-no-ref'
    WHEN hasFs THEN 'frameshift'
    ELSE 'canonical-no-ref' END AS pep_type1,
  CASE WHEN isCont THEN 'contaminant'
    WHEN (CASE WHEN isCanon THEN nEnst ELSE n END) = 1
      THEN 'proteoform-specific'
    WHEN (CASE WHEN isCanon THEN cNGenes ELSE vNGenes END) = 1
      THEN 'protein-specific'
    ELSE 'multi-gene' END AS pep_type2,
  CASE WHEN isCont THEN '-' WHEN isCanon THEN ''
    ELSE coalesce(array_to_string(list_filter(lCovPep,
      (x, i) -> list_position(lCovPep, x) = i), '|'), '')
  END AS covered_changes_peptide,
  CASE WHEN isCont THEN '-' WHEN isCanon THEN ''
    ELSE coalesce(array_to_string(list_filter(lCovProt,
      (x, i) -> list_position(lCovProt, x) = i), '|'), '')
  END AS covered_changes_protein,
  CASE WHEN isCont THEN '-'
    WHEN isCanon THEN coalesce(array_to_string(list_filter(lcDna,
      (x, i) -> list_position(lcDna, x) = i), '|'), '')
    ELSE coalesce(array_to_string(list_filter(lCovDna,
      (x, i) -> list_position(lCovDna, x) = i), '|'), '')
  END AS covered_alleles_dna,
  CASE WHEN isCont THEN '-'
    WHEN isCanon THEN coalesce(array_to_string(lcProts, ';'), '')
    ELSE coalesce(array_to_string(lProts, ';'), '') END AS matching_proteins,
  CASE WHEN isCont THEN '-'
    WHEN isCanon THEN coalesce(array_to_string(lcProts, ';'), '')
    ELSE coalesce(array_to_string(list_filter(lTranscripts,
      (x, i) -> list_position(lTranscripts, x) = i), ';'), '')
  END AS matching_transcripts,
  CASE WHEN isCont THEN '-'
    WHEN isCanon THEN coalesce(array_to_string(list_filter(lcGenes,
      (x, i) -> list_position(lcGenes, x) = i), ';'), '')
    ELSE coalesce(array_to_string(list_filter(lGenes,
      (x, i) -> list_position(lGenes, x) = i), ';'), '')
  END AS matching_genes,
  CASE WHEN isCont THEN '-'
    WHEN isCanon THEN coalesce(array_to_string(lcPositions, ';'), '')
    ELSE coalesce(array_to_string(lPositions, ';'), '') END AS positions_in_proteins,
  CASE WHEN isCont OR isCanon THEN '-'
    WHEN coalesce(array_to_string(lPreceding, ';'), '') = '' THEN '-'
    ELSE coalesce(array_to_string(lPreceding, ';'), '') END AS preceding_indel_shift,
  CASE WHEN isCont OR isCanon THEN '-'
    ELSE coalesce(array_to_string(lRfs, ';'), '') END AS reading_frames
FROM rolled"""
    )
  }
}
