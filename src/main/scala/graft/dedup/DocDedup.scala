package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.text.TextAnalysis

/** Document deduplication family for training-data pipelines:
  *
  *  - exact: canonical-fingerprint group-by (one shuffle on the digest);
  *  - MinHash + LSH: word-shingle signatures, banded bucket join — the
  *    scale path for near-dup detection (candidate pairs ∝ collisions, never
  *    all-pairs);
  *  - SimHash: 32-bit majority-bit sketch with high-bits blocking;
  *  - n-gram Jaccard: exact similarity on LSH candidates only.
  *
  * Portability: "hashes" are md5-derived (lexicographic min over hex digests
  * is a valid uniform minhash), so the DuckDB oracle can reproduce every
  * signature bit-for-bit. At 100 TB swap md5 for xxhash64 via one function —
  * topology is unchanged.
  */
object DocDedup {

  final val NumHashes = 8
  final val BandSize = 2 // 4 bands of 2 rows → catches J ≳ 0.5 pairs

  /** Exact dedup: group identical canonical fingerprints, keep the smallest
    * doc_id as representative.
    */
  def exactDuplicates(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))
      .groupBy("fp")
      .agg(count(lit(1)).as("n_docs"), min("doc_id").as("keep_doc_id"))

  /** (doc_id, pos, word) exploded normalized words. */
  private def explodedWords(docs: DataFrame): DataFrame =
    graft.Tables.spread(docs).select(col("doc_id"),
      posexplode(TextAnalysis.words(col("text"))).as(Seq("pos", "word")))

  /** (doc_id, shingle) word 3-gram shingles, exploded.
    *
    * Shingles are derived from the document's own word array with a single
    * per-row `transform` over index positions — zero shuffle, zero network
    * bytes (the round-1 design posexploded every word and shuffled the whole
    * corpus through a per-doc lead window just to form 3-grams). The array
    * is referenced exactly ONCE, by the generator: Catalyst inlines aliased
    * expressions into every usage site (CollapseProject), so an expression
    * this expensive must have exactly one usage — a `filter(size(sh)>0)` or
    * per-column `array_min(transform(sh,...))` formulation re-executes the
    * whole shingle build per reference, interpreted (observed: minutes on
    * one core).
    */
  def shingles(docs: DataFrame, n: Int = 3): DataFrame = {
    val parts = (0 until n).map(i => if (i == 0) "w[i]" else s"w[i+$i]").mkString(", ")
    graft.Tables.spread(docs)
      .withColumn("w", TextAnalysis.words(col("text")))
      .select(col("doc_id"), explode(expr(
        s"""CASE WHEN size(w) >= $n
           |  THEN transform(sequence(0, size(w) - $n), i -> concat_ws(' ', $parts))
           |  ELSE array() END""".stripMargin)).as("shingle"))
  }

  /** Per-doc distinct shingle SETS (one array row per doc) — the join-side
    * shape for exact-Jaccard refinement.
    */
  private[graft] def shingleSets(docs: DataFrame, n: Int = 3): DataFrame =
    shingles(docs, n)
      .groupBy("doc_id").agg(collect_set(col("shingle")).as("shs"))

  /** MinHash signature: NumHashes seeded minima over md5(seed:shingle).
    * One explode + one hash-aggregate with map-side partial min: the shuffle
    * carries only |docs| x NumHashes partially-combined rows, never the
    * shingle stream. Docs with fewer than 3 words have no shingles and no
    * signature row.
    */
  def minhashSignatures(docs: DataFrame): DataFrame =
    shingles(docs)
      .groupBy("doc_id")
      .agg(
        min(md5(concat(lit("0:"), col("shingle")))).as("mh_0"),
        (1 until NumHashes).map(j =>
          min(md5(concat(lit(s"$j:"), col("shingle")))).as(s"mh_$j")): _*)

  /** Signature relation for multi-branch pair queries.
    *
    * The banded self-join plus signature re-join references this subtree up
    * to 4x. Earlier designs either persisted it (block-manager eviction
    * storms in long constrained-heap JVMs → multi-second nondeterministic
    * degradation) or recomputed it per reference (the scan + shingle
    * explode + 8-way md5 min-agg ran 2-4x per query — ngram_jaccard spent
    * 2/3 of its time rebuilding signatures). Scratch-parquet is the shape
    * that survives both: compute once, scan cheaply, no pinned memory.
    */
  private def materializedSignatures(docs: DataFrame): DataFrame =
    graft.Scratch.table(minhashSignatures(docs), "minhash-sigs")

  /** Estimated AND exact Jaccard side by side for every LSH candidate pair,
    * from ONE signature scratch, ONE banded self-join, and ONE shingle-set
    * scratch — the input an estimator-quality audit needs. Calling
    * [[estimatedJaccardPairs]] and [[exactJaccardPairs]] separately would
    * re-run the whole corpus-scan → shingle-explode → signature pipeline
    * and the band join twice (the exact waste [[materializedSignatures]]
    * exists to prevent).
    */
  def estVsExactPairs(docs: DataFrame): DataFrame = {
    val sigs = materializedSignatures(docs)
    val pairs = pairsFromSigs(sigs)
    val docSets = graft.Scratch.table(shingleSets(docs), "shingle-sets")
    val eqCount = (0 until NumHashes)
      .map(j => when(col(s"a.mh_$j") === col(s"b.mh_$j"), 1).otherwise(0))
      .reduce(_ + _)
    val nCommon = size(array_intersect(col("za.shs"), col("zb.shs")))
    pairs
      .join(sigs.as("a"), pairs("doc_id_a") === col("a.doc_id"))
      .join(sigs.as("b"), pairs("doc_id_b") === col("b.doc_id"))
      .join(docSets.as("za"), pairs("doc_id_a") === col("za.doc_id"))
      .join(docSets.as("zb"), pairs("doc_id_b") === col("zb.doc_id"))
      .select(col("doc_id_a"), col("doc_id_b"),
        graft.Parity.pround(eqCount.cast("double") / NumHashes, 6)
          .as("est_jaccard"),
        graft.Parity.pround(nCommon.cast("double") /
          (size(col("za.shs")) + size(col("zb.shs")) - nCommon), 6)
          .as("jaccard"))
  }

  /** Band rows of a doc set — the (doc_id, band_idx, band_key) bucket
    * relation, i.e. the unit the incremental dedup path persists. Public
    * so plan capture (tools/dump_plans) and store integrations can name
    * it.
    */
  def bandsOfDocs(docs: DataFrame): DataFrame =
    bandsOf(minhashSignatures(docs))

  private def bandsOf(sigs: DataFrame): DataFrame = {
    val nBands = NumHashes / BandSize
    sigs.select(
      col("doc_id"),
      posexplode(array((0 until nBands).map { b =>
        md5(concat_ws("|", (0 until BandSize).map(i => col(s"mh_${b * BandSize + i}")): _*))
      }: _*)).as(Seq("band_idx", "band_key")))
  }

  /** The SAME band rows as [[bandsOfDocs]], computed STATELESSLY per row —
    * no explode, no groupBy, no shuffle — which is what makes the MinHash
    * chain legal on an unbounded STREAM (a streaming aggregation would
    * force update/complete mode and unbounded state; this is a plain
    * projection, so the new-day batch flows straight into a stream-static
    * probe of the historical band index). Per row: build the word array
    * once, the shingle array once, then fold each of the NumHashes seeded
    * minima as `array_min(transform(...))` over the in-memory shingle
    * array.
    *
    * The one-element-array `transform` wrappers are LET BINDINGS: words
    * and shingles are each computed once per row and referenced many
    * times inside their lambda. Aliased columns cannot express this —
    * CollapseProject inlines an alias into EVERY usage site, so the 8
    * seeded minima would rebuild the whole normalize+split+shingle
    * pipeline 8× per row (the [[shingles]] scaladoc's observed
    * minutes-on-one-core trap).
    *
    * Docs with fewer than 3 words produce no rows (the batch contract:
    * no shingles → no signature). BandRowsStatelessSpec pins bit-equality
    * with [[bandsOfDocs]] on the documents fixture.
    */
  def bandRowsStateless(docs: DataFrame): DataFrame = {
    val nBands = NumHashes / BandSize
    val keysLet = transform(array(TextAnalysis.words(col("text"))), w =>
      transform(
        array(transform(sequence(lit(0), size(w) - lit(3)), i =>
          concat_ws(" ", element_at(w, i + lit(1)), element_at(w, i + lit(2)),
            element_at(w, i + lit(3))))),
        sh => transform(sequence(lit(0), lit(nBands - 1)), b =>
          md5(concat_ws("|", (0 until BandSize).map { i =>
            array_min(transform(sh, x =>
              md5(concat((b * lit(BandSize) + lit(i)).cast("string"), lit(":"), x))))
          }: _*)))))
    docs
      .filter(size(TextAnalysis.words(col("text"))) >= 3)
      .select(col("doc_id"),
        posexplode(keysLet.getItem(0).getItem(0)).as(Seq("band_idx", "band_key")))
  }

  private def pairsFromSigs(sigs: DataFrame): DataFrame = {
    val bands = bandsOf(sigs)
    val l = bands.as("l")
    val r = bands.as("r")
    l.join(r,
        col("l.band_idx") === col("r.band_idx") &&
        col("l.band_key") === col("r.band_key") &&
        col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id").as("doc_id_a"), col("r.doc_id").as("doc_id_b"))
      .distinct()
  }

  /** LSH banded candidate pairs: docs sharing any band of the signature.
    * Join is per (band_idx, band_key) bucket — the only pairs materialized
    * are hash-collision candidates, which is what makes near-dup detection
    * feasible at scale (vs O(n²) all-pairs).
    */
  def lshCandidatePairs(docs: DataFrame): DataFrame =
    pairsFromSigs(materializedSignatures(docs))

  /** INCREMENTAL near-dup candidate discovery — the reference's defining
    * behavior (high-watermark incremental runs,
    * models/staging/stg_eurusd.sql:18-21) applied to the LSH family. The
    * band-bucket relation is the PERSISTED STATE: each arriving batch
    * computes MinHash signatures for ITS docs only, joins its bands
    * against the accumulated band store for new-vs-historical candidates,
    * self-joins its own bands for new-vs-new, appends the found pairs to
    * the pair store and its bands to the band store. Correctness
    * identity: a candidate pair IS a band-bucket equality collision, so
    * pairs(H ∪ N) = pairs(H) ∪ pairs(N) ∪ cross(H, N) — after every
    * batch the accumulated pair store equals the one-shot full-corpus
    * pair set, which is exactly what the gate oracle states
    * (`neardup_incremental` shares `lsh_candidate_pairs`' oracle).
    *
    * At 100 TB: a daily batch costs its OWN signature computation plus a
    * band join against the store — with the store bucketed by band_key
    * the probe touches only colliding buckets — never a full-corpus
    * recompute. The state grows one row per (doc, band) per day; a
    * retention sweep on the band store bounds it the same way the silver
    * store is bounded ([[graft.store.IncrementalStore]] pattern).
    */
  def incrementalCandidatePairs(
      spark: org.apache.spark.sql.SparkSession,
      batches: Seq[DataFrame], storeDir: String): DataFrame = {
    val root = new org.apache.hadoop.fs.Path(storeDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(root, true)
    val bandsPath = s"$storeDir/bands"
    val pairsPath = s"$storeDir/pairs"
    batches.zipWithIndex.foreach { case (docs, i) =>
      // scratch: consumed by the self-join (twice) + the cross join + the
      // store append; without it the scan→shingle→minhash lineage would
      // run 4x per batch
      val bands = graft.Scratch.table(bandsOf(minhashSignatures(docs)), s"inc-bands-$i")
      val self = bands.as("l").join(bands.as("r"),
          col("l.band_idx") === col("r.band_idx") &&
          col("l.band_key") === col("r.band_key") &&
          col("l.doc_id") < col("r.doc_id"))
        .select(col("l.doc_id").as("doc_id_a"), col("r.doc_id").as("doc_id_b"))
      val newPairs = if (i == 0) self else {
        val hist = spark.read.parquet(bandsPath)
        val cross = bands.as("nb").join(hist.as("hb"),
            col("nb.band_idx") === col("hb.band_idx") &&
            col("nb.band_key") === col("hb.band_key"))
          .select(least(col("nb.doc_id"), col("hb.doc_id")).as("doc_id_a"),
            greatest(col("nb.doc_id"), col("hb.doc_id")).as("doc_id_b"))
        self.unionAll(cross)
      }
      // a pair's later endpoint determines the ONE batch that finds it,
      // so cross-batch duplicates are impossible; distinct here only
      // collapses multi-band collisions within the batch
      newPairs.distinct().write.mode("append").parquet(pairsPath)
      bands.write.mode("append").parquet(bandsPath)
    }
    spark.read.parquet(pairsPath)
  }

  /** Incremental CONNECTED COMPONENTS over the near-dup graph — the third
    * leg of the incremental dedup frontier (pairs:
    * [[incrementalCandidatePairs]]; exact: [[incrementalExactDuplicates]]).
    * State per day: the signature + band stores (as in the pair path) AND
    * the current LABEL assignment. A new batch discovers its new edges
    * (banded probe of the store + self-join, est-Jaccard ≥ 0.5 refinement
    * against the accumulated signatures), then re-runs CC on the
    * CONTRACTED graph: the stored labeling's star edges (v → label) plus
    * the new edges — never the full historical pair set.
    *
    * Correctness: the stored labeling is a spanning star forest of the
    * processed graph (every component is exactly one star centered at its
    * min id), connectivity is all CC depends on, and every processed
    * vertex rides along — so CC(stars ∪ newEdges) = CC(fullEdges ∪
    * newEdges), with the same min-id labels. IncrementalDedupSpec pins
    * multi-batch equality; the gate shares `dedup_clusters`' recursive-CTE
    * oracle.
    *
    * At 100 TB: a day's CC input is |processed docs| star edges +
    * |new edges| — both linear — instead of the quadratic-in-history pair
    * accumulation, and the CC rounds are bounded by the contracted
    * graph's diameter, which star contraction keeps at ~2.
    */
  def incrementalClusterLabels(
      spark: org.apache.spark.sql.SparkSession,
      batches: Seq[DataFrame], storeDir: String): DataFrame = {
    val root = new org.apache.hadoop.fs.Path(storeDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(root, true)
    val sigsPath = s"$storeDir/sigs"
    val bandsPath = s"$storeDir/bands"
    var labelsPath: Option[String] = None
    batches.zipWithIndex.foreach { case (docs, i) =>
      val sigsN = graft.Scratch.table(minhashSignatures(docs), s"incc-sigs-$i")
      val bandsN = graft.Scratch.table(bandsOf(sigsN), s"incc-bands-$i")
      val self = bandsN.as("l").join(bandsN.as("r"),
          col("l.band_idx") === col("r.band_idx") &&
          col("l.band_key") === col("r.band_key") &&
          col("l.doc_id") < col("r.doc_id"))
        .select(col("l.doc_id").as("doc_id_a"), col("r.doc_id").as("doc_id_b"))
      val cand = (if (i == 0) self else {
        val cross = bandsN.as("nb")
          .join(spark.read.parquet(bandsPath).as("hb"),
            col("nb.band_idx") === col("hb.band_idx") &&
            col("nb.band_key") === col("hb.band_key"))
          .select(least(col("nb.doc_id"), col("hb.doc_id")).as("doc_id_a"),
            greatest(col("nb.doc_id"), col("hb.doc_id")).as("doc_id_b"))
        self.unionAll(cross)
      }).distinct()
      // est-Jaccard ≥ 0.5 refinement == at least half the signature rows
      // agree (integer compare, engine-independent)
      val allSigs =
        if (i == 0) sigsN else sigsN.unionAll(spark.read.parquet(sigsPath))
      val agree = (0 until NumHashes)
        .map(j => when(col(s"sa.mh_$j") === col(s"sb.mh_$j"), 1).otherwise(0))
        .reduce(_ + _)
      val newEdges = cand
        .join(allSigs.as("sa"), cand("doc_id_a") === col("sa.doc_id"))
        .join(allSigs.as("sb"), cand("doc_id_b") === col("sb.doc_id"))
        .filter(agree >= NumHashes / 2)
        .select(col("doc_id_a").as("a"), col("doc_id_b").as("b"))
      val (verts, edges) = labelsPath match {
        case None => (docs.select(col("doc_id").as("v")), newEdges)
        case Some(p) =>
          val prev = spark.read.parquet(p)
          (docs.select(col("doc_id").as("v")).unionAll(prev.select(col("v"))),
            newEdges.unionAll(prev.filter(col("v") =!= col("label"))
              .select(col("v").as("a"), col("label").as("b"))))
      }
      val labels = Components.connectedComponents(verts, edges)
      val next = s"$storeDir/labels/gen=$i"
      labels.write.mode("overwrite").parquet(next)
      labelsPath = Some(next)
      sigsN.write.mode("append").parquet(sigsPath)
      bandsN.write.mode("append").parquet(bandsPath)
    }
    spark.read.parquet(labelsPath.get)
  }

  /** Incremental EXACT dedup — the fingerprint aggregate
    * (fp → n_docs, keep_doc_id) is a MERGEABLE materialized view: the
    * count is a sum and the keeper is a min, both associative, so a
    * daily batch folds into the persisted aggregate without ever
    * re-reading historical raw documents (the incremental_mv contract
    * applied to the dedup family). Each fold writes a new generation
    * directory and reads the previous one — never read-and-overwrite the
    * same files. At 100 TB the fold is
    * [[graft.store.IncrementalStore]]-style keyed MERGE touching only
    * the fp partitions present in the batch; generation dirs here keep
    * the gate deterministic.
    */
  def incrementalExactDuplicates(
      spark: org.apache.spark.sql.SparkSession,
      batches: Seq[DataFrame], storeDir: String): DataFrame = {
    val root = new org.apache.hadoop.fs.Path(storeDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(root, true)
    var cur: Option[String] = None
    batches.zipWithIndex.foreach { case (docs, i) =>
      val agg = docs
        .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))
        .groupBy("fp")
        .agg(count(lit(1)).as("n_docs"), min("doc_id").as("keep_doc_id"))
      val merged = cur match {
        case None => agg
        case Some(prev) => spark.read.parquet(prev).unionAll(agg)
          .groupBy("fp")
          .agg(sum("n_docs").as("n_docs"), min("keep_doc_id").as("keep_doc_id"))
      }
      val next = s"$storeDir/gen=$i"
      merged.write.mode("overwrite").parquet(next)
      cur = Some(next)
    }
    spark.read.parquet(cur.get)
  }

  /** Estimated Jaccard for candidate pairs: fraction of equal signature
    * rows. Exact-Jaccard refinement joins shingle sets for candidates only.
    */
  def estimatedJaccardPairs(docs: DataFrame): DataFrame = {
    val sigs = materializedSignatures(docs)
    val pairs = pairsFromSigs(sigs)
    val a = sigs.as("a")
    val b = sigs.as("b")
    val eqCount = (0 until NumHashes)
      .map(j => when(col(s"a.mh_$j") === col(s"b.mh_$j"), 1).otherwise(0))
      .reduce(_ + _)
    pairs
      .join(a, pairs("doc_id_a") === col("a.doc_id"))
      .join(b, pairs("doc_id_b") === col("b.doc_id"))
      .select(col("doc_id_a"), col("doc_id_b"),
        graft.Parity.pround(eqCount.cast("double") / NumHashes, 6).as("est_jaccard"))
  }

  /** Exact n-gram Jaccard, computed ONLY for LSH candidate pairs.
    *
    * Candidates join the per-doc distinct shingle SETS (one array row per
    * doc), and |A ∩ B| is a per-pair `array_intersect` — the shingle stream
    * itself is never self-joined. Pair count is ∝ LSH collisions, so the
    * intersect work is tiny; the round-1 three-way exploded-shingle join
    * shuffled the whole shingle relation twice and dominated the bench.
    * |A ∪ B| = |A| + |B| − |A ∩ B|.
    */
  def exactJaccardPairs(docs: DataFrame): DataFrame = {
    // referenced by both join sides AND rebuilt from the same shingle
    // explode the signatures use — scratch-materialized for the same
    // reason as materializedSignatures
    val docSets = graft.Scratch.table(shingleSets(docs), "shingle-sets")
    val nCommon = size(array_intersect(col("za.shs"), col("zb.shs")))
    lshCandidatePairs(docs)
      .join(docSets.as("za"), col("doc_id_a") === col("za.doc_id"))
      .join(docSets.as("zb"), col("doc_id_b") === col("zb.doc_id"))
      .select(col("doc_id_a"), col("doc_id_b"),
        graft.Parity.pround(nCommon.cast("double") /
          (size(col("za.shs")) + size(col("zb.shs")) - nCommon), 6)
          .as("jaccard"))
  }

  /** Portable 32-bit word hash — [[graft.functions.PortableHash.hash32]]
    * (r18: this private copy still carried the pre-r17 8×(substring+instr)
    * positional parse; the shared conv() form computes the identical value
    * at 1/8th the per-token string work, and this expression runs once per
    * word occurrence under simhash).
    */
  private val wordHash32: Column =
    graft.functions.PortableHash.hash32(col("word"))

  /** SimHash-32: per-bit majority vote over word hashes. */
  def simhashSignatures(docs: DataFrame): DataFrame = {
    val toks = explodedWords(docs).select(col("doc_id"), wordHash32.as("h"))
    val bitSums = toks.groupBy("doc_id").agg(
      sum(when(expr("(h div 1) % 2") === 1, 1).otherwise(-1)).as("bit_0"),
      (1 until 32).map(b =>
        sum(when(expr(s"(h div ${1L << b}) % 2") === 1, 1).otherwise(-1)).as(s"bit_$b")): _*)
    val sim = (0 until 32)
      .map(b => when(col(s"bit_$b") > 0, lit(1L << b)).otherwise(lit(0L)))
      .reduce(_ + _)
    bitSums.select(col("doc_id"), sim.as("simhash32"))
  }

  /** Near-dup pairs via SimHash: block on the high 16 bits (LSH-style),
    * keep pairs within `maxHamming` of each other.
    */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 3): DataFrame = {
    val sigs = simhashSignatures(docs).withColumn("block", expr("simhash32 div 65536"))
    val l = sigs.as("l")
    val r = sigs.as("r")
    l.join(r, col("l.block") === col("r.block") && col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id").as("doc_id_a"), col("r.doc_id").as("doc_id_b"),
        expr("bit_count(l.simhash32 ^ r.simhash32)").as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }
}
