package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication surface for a training-data pipeline over `documents`:
  * exact (hash groupBy), MinHash+LSH banding, SimHash, and exact n-gram
  * Jaccard via an inverted-index self-join.
  *
  * Scale design (100 TB):
  *  - signatures (MinHash/SimHash/fingerprints) are map-side HOF expressions —
  *    zero shuffle, computed in the scan stage;
  *  - candidate generation shuffles on *band/shingle* keys (uniform md5
  *    values — no skew), never on full-document comparisons;
  *  - `maxShingleDf` caps inverted-index postings for pathological shingles,
  *    the standard prefix-filter guard against quadratic blowup.
  */
object Dedup {

  /** Exact-dup groups by content hash: canonical (min) id + member count per
    * duplicated hash. One hash-aggregate; at scale, partial aggregation makes
    * the shuffle proportional to distinct hashes, not rows.
    */
  def exactDupGroups(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.groupBy(md5(col(textCol).cast("binary")).as("content_hash"))
      .agg(count(lit(1)).as("n"), min(col("doc_id")).as("canonical_id"))
      .filter(col("n") > 1)

  /** Bag-of-words content hash: md5 over the sorted distinct token set.
    * Catches reorder-only duplicates that byte-hashing misses.
    */
  def tokenSetHash(text: Column): Column =
    md5(array_join(array_sort(array_distinct(TextAnalysis.tokens(text))), " ")
      .cast("binary"))

  /** MinHash signature: k independent hashes as `min(md5(shingle || '#i'))`
    * over the distinct word n-gram shingle set. Lexicographic min of a
    * uniform hash is a valid MinHash and is engine-portable (md5 hex is
    * canonical, no integer endianness games). Map-side only.
    *
    * Shingles, not unigrams: over a small vocabulary the distinct-token sets
    * of most documents coincide, every signature degenerates to the same
    * min, and LSH banding collapses to an all-pairs cross product (observed:
    * 218 s / 12.5 M candidate pairs at sf0.1). n-gram shingle space is
    * |vocab|^n, which keeps signatures diverse and candidates ∝ true dups.
    */
  def minhashSignature(text: Column, k: Int, shingleN: Int = 3): Seq[(String, Column)] = {
    val sh = array_distinct(TextAnalysis.shingles(text, shingleN))
    (0 until k).map { i =>
      s"s$i" -> array_min(transform(sh, t => md5(concat(t, lit(s"#$i")).cast("binary"))))
    }
  }

  /** Signature *table* (doc_id, s0..s{k-1}) via explode + hash aggregate —
    * the 100 TB path: staged tokens, one shingle explode, k codegen'd md5
    * columns, partial+final `min` aggregation. The HOF column form above is
    * interpreted per element and re-derives shingles per component; this form
    * is whole-stage-codegen end to end (observed ~6× faster at sf0.1 and it
    * scales out with the shuffle instead of per-row lambda depth).
    */
  def minhashSignatureTable(docs: DataFrame, k: Int = 8, shingleN: Int = 3): DataFrame =
    // spread: k md5 evaluations per exploded shingle make this the
    // heaviest map stage in the dedup family — the one place the
    // parallelism-rescue shuffle repays itself (see
    // TextAnalysis.ensureParallelism; measured 1.23 -> 0.60 s at sf0.1)
    TextAnalysis.explodeShingles(docs, shingleN, spread = true)
      .groupBy("doc_id")
      .agg(
        min(md5(concat(col("g"), lit("#0")).cast("binary"))).as("s0"),
        (1 until k).map(i =>
          min(md5(concat(col("g"), lit(s"#$i")).cast("binary"))).as(s"s$i")): _*)

  /** LSH bands over a MinHash signature: hash `rowsPerBand` consecutive
    * signature values per band. Docs sharing any band are near-dup candidates.
    */
  def lshBands(sig: Seq[Column], rowsPerBand: Int): Seq[Column] =
    sig.grouped(rowsPerBand).toSeq.map(g => md5(concat_ws("|", g: _*).cast("binary")))

  /** MinHash+LSH candidate pairs: per band, docs hashing to the same bucket.
    * One posexplode over the band array then a single self-equi-join on
    * (band index, bucket) — the naive union of per-band joins evaluates the
    * signature subtree once per band per side (8× the md5 work; observed
    * 37 s → ~4× less this way). Shuffle key is a uniform md5 bucket — no
    * skew. Returns distinct (doc_a < doc_b) pairs.
    */
  def lshCandidatePairs(docs: DataFrame, k: Int = 8, rowsPerBand: Int = 2): DataFrame = {
    // Materialize the signature table before the self-join: both join sides
    // derive from it, and without the checkpoint the whole explode+min-agg
    // signature pipeline runs once per side (observed 2× the md5 work and
    // 20 s at sf0.1). The signature relation is k hex strings per doc — tiny
    // relative to the corpus — so this is the right trade at 100 TB too
    // (at cluster scale it would be a persisted/bucketed intermediate table).
    val sigTable = minhashSignatureTable(docs, k).localCheckpoint()
    bandPairs(sigTable, k, rowsPerBand)
  }

  /** Band self-join over a materialized signature table — the shared tail
    * of [[lshCandidatePairs]] and [[minhashCalibration]].
    */
  private def bandPairs(sigTable: DataFrame, k: Int, rowsPerBand: Int): DataFrame = {
    val bands = sigTable.select(col("doc_id"),
      posexplode(array(lshBands((0 until k).map(i => col(s"s$i")), rowsPerBand): _*))
        .as(Seq("band", "bucket")))
    val l = bands.select(col("doc_id").as("doc_a"), col("band"), col("bucket"))
    val r = bands.select(col("doc_id").as("doc_b"), col("band"), col("bucket"))
    // shuffle-hash for the same reason as the Jaccard inverted-index join:
    // uniform md5 bucket keys, bounded per-key groups, no value in sorting
    l.hint("shuffle_hash").join(r, Seq("band", "bucket"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b")
      .distinct()
  }

  /** MinHash estimator calibration — the audit face of the LSH family:
    * for every banding CANDIDATE pair, compare the minhash-estimated
    * Jaccard (matching signature components / k) against the exact
    * shingle-set Jaccard, reported per matching-component count. The
    * question it answers is the one every sketch deployment has to keep
    * answering as the corpus drifts: is k still big enough, i.e. how far
    * is the estimator from the truth ON THE PAIRS THE PIPELINE ACTS ON
    * (same estimator-audit family as the Bloom fp-rate, LSH-recall, HLL
    * and KMV rows).
    *
    * Cost is candidate-bounded end to end: the signature table is built
    * once (checkpointed, shared by the band join and the match count);
    * the exact side restricts the shingle postings to DOCS APPEARING IN
    * SOME PAIR (broadcast semi-join) before the inverted-index self-join,
    * so the quadratic term never sees the full corpus. Every per-pair
    * number is exact or micro-rounded: m and set sizes are integers,
    * m/k is an exact IEEE double for power-of-two k, the Jaccard is one
    * double division of exact integers, and the per-pair micro-roundings
    * sum as BIGINTs (the [[graft.ops.Similarity]] micro-unit discipline).
    * A band match forces a shared min-shingle, so every candidate pair
    * has intersection ≥ 1 and the exact side is an inner join.
    *
    * Emits one row per matching-component count m: (n_matching, n_pairs,
    * mean_exact_jaccard, mean_abs_err), ordered by n_matching.
    */
  def minhashCalibration(docs: DataFrame, k: Int = 8, rowsPerBand: Int = 2,
                         shingleN: Int = 3): DataFrame = {
    val sigTable = minhashSignatureTable(docs, k, shingleN).localCheckpoint()
    val pairs = bandPairs(sigTable, k, rowsPerBand).localCheckpoint()
    val m = pairs
      .join(sigTable.select(col("doc_id").as("doc_a") +:
        (0 until k).map(i => col(s"s$i").as(s"a$i")): _*), Seq("doc_a"))
      .join(sigTable.select(col("doc_id").as("doc_b") +:
        (0 until k).map(i => col(s"s$i").as(s"b$i")): _*), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        (0 until k).map(i => when(col(s"a$i") === col(s"b$i"), 1L).otherwise(0L))
          .reduce(_ + _).as("m"))
    val pairDocs = pairs.select(col("doc_a").as("doc_id"))
      .union(pairs.select(col("doc_b").as("doc_id"))).distinct()
    val p = TextAnalysis.explodeShingles(docs, shingleN, spread = true)
      .join(broadcast(pairDocs), Seq("doc_id"), "left_semi")
      .localCheckpoint()
    val sizes = p.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val inter = p.select(col("doc_id").as("doc_a"), col("g"))
      .join(p.select(col("doc_id").as("doc_b"), col("g")), Seq("g"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("shared"))
      .join(pairs, Seq("doc_a", "doc_b"), "left_semi")
    val per = m.join(inter, Seq("doc_a", "doc_b"))
      .join(sizes.select(col("doc_id").as("doc_a"), col("sz").as("sz_a")), Seq("doc_a"))
      .join(sizes.select(col("doc_id").as("doc_b"), col("sz").as("sz_b")), Seq("doc_b"))
      .select(col("m"),
        (col("shared").cast("double")
          / (col("sz_a") + col("sz_b") - col("shared"))).as("jacc"),
        (col("m").cast("double") / k).as("est"))
      .select(col("m"), round(col("jacc") * 1e6).cast("long").as("ju"),
              round(abs(col("est") - col("jacc")) * 1e6).cast("long").as("eu"))
    per.groupBy(col("m"))
      .agg(count(lit(1)).as("n_pairs"), sum(col("ju")).as("sj"),
           sum(col("eu")).as("se"))
      .select(col("m").as("n_matching"), col("n_pairs"),
        round(col("sj").cast("double") / (col("n_pairs").cast("double") * 1e6), 6)
          .as("mean_exact_jaccard"),
        round(col("se").cast("double") / (col("n_pairs").cast("double") * 1e6), 6)
          .as("mean_abs_err"))
      .orderBy(col("n_matching"))
  }

  /** SimHash table at an arbitrary bit width (≤ 60: the per-token hash is
    * the first 15 md5 hex chars = 60 bits, which stays positive in a
    * signed 64-bit integer on BOTH engines — 16 hex chars would need
    * unsigned wraparound games that SQL twins get wrong). Same shape as
    * [[simhash32Table]]: explode tokens, hash each once, `bits`
    * conditional-sum lanes in one partial+final aggregate, pack signs.
    */
  def simhashTable(docs: DataFrame, bits: Int): DataFrame = {
    require(bits >= 1 && bits <= 60, s"simhash bits must be in [1,60], got $bits")
    val hashed = TextAnalysis.explodeTokens(docs, spread = true)
      .select(col("doc_id"),
        conv(substring(md5(col("token").cast("binary")), 1, 15), 16, 10)
          .cast("long").as("h"))
    val lanes = (0 until bits).map(b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(lit(1L)) === 1L, 1L)
        .otherwise(-1L)).as(s"s$b"))
    val packed = (0 until bits)
      .map(b => when(col(s"s$b") >= 0, lit(1L << b)).otherwise(lit(0L)))
      .reduce(_ + _)
    hashed.groupBy("doc_id")
      .agg(lanes.head, lanes.tail: _*)
      .select(col("doc_id"), packed.as("simhash"))
  }

  /** SimHash near-dup pairs via pigeonhole blocking (Manku et al.'s
    * simhash dedup scheme re-expressed relationally): split the `bits`-bit
    * fingerprint into `blocks` contiguous blocks — any pair within Hamming
    * distance `maxHamming ≤ blocks − 1` shares at least one intact block —
    * equi-join on (block index, block value), then rescore exactly with
    * `bit_count(xor)`. Shuffle is banded block rows, never doc×doc; block
    * width sets the collision rate (15-bit blocks → 32 Ki buckets; a
    * production 64/96-bit deployment widens blocks and adds permuted
    * tables, same plan shape). Returns (doc_a, doc_b, hamming), doc_a <
    * doc_b distinct.
    */
  def simhashNearDups(docs: DataFrame, maxHamming: Int = 3,
                      bits: Int = 60, blocks: Int = 4): DataFrame = {
    require(maxHamming < blocks,
      s"pigeonhole needs maxHamming < blocks: $maxHamming >= $blocks")
    require(bits % blocks == 0, s"blocks must divide bits: $bits % $blocks != 0")
    val w = bits / blocks
    val mask = (1L << w) - 1
    // both join sides derive from the fingerprint table — materialize once
    // (same rationale as the MinHash signature checkpoint above)
    val fp = simhashTable(docs, bits).localCheckpoint()
    val blk = fp.select(col("doc_id"), col("simhash"),
      posexplode(array((0 until blocks).map(b =>
        shiftright(col("simhash"), b * w).bitwiseAND(lit(mask))): _*))
        .as(Seq("blk", "key")))
    val l = blk.select(col("doc_id").as("doc_a"), col("simhash").as("h_a"),
                       col("blk"), col("key"))
    val r = blk.select(col("doc_id").as("doc_b"), col("simhash").as("h_b"),
                       col("blk"), col("key"))
    l.hint("shuffle_hash").join(r, Seq("blk", "key"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
              bit_count(col("h_a").bitwiseXOR(col("h_b"))).cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Banded bucket rows (doc_id, band, bucket) for a document set — the
    * join-ready LSH shape shared by the self-join ([[lshCandidatePairs]])
    * and the cross-batch form ([[incrementalLshDups]]).
    */
  private def bandRows(docs: DataFrame, k: Int, rowsPerBand: Int): DataFrame =
    minhashSignatureTable(docs, k).select(col("doc_id"),
      posexplode(array(lshBands((0 until k).map(i => col(s"s$i")), rowsPerBand): _*))
        .as(Seq("band", "bucket")))

  /** Cross-batch near-dup check — the INCREMENTAL form of LSH dedup that a
    * production ingest actually runs: band the INCOMING batch and the
    * EXISTING corpus separately and equi-join on (band, bucket), instead of
    * self-joining the union. No checkpoint is needed (each side's signature
    * subtree is referenced once), the join is never incoming×existing (it
    * shuffles banded bucket rows on uniform md5 keys), and at 100 TB the
    * existing side's band table is the persisted index the pipeline
    * maintains between batches — only the incoming batch is signed per run.
    * This is the corpus-scale analogue of the reference's
    * already-downloaded skip (download.py:139-153): membership first, fetch
    * (here: admit) only what's new.
    *
    * Returns one row per (incoming doc, existing doc) candidate pair with
    * the number of colliding bands: (doc_id, dup_of, n_bands).
    */
  def incrementalLshDups(incoming: DataFrame, existing: DataFrame,
                         k: Int = 8, rowsPerBand: Int = 2): DataFrame =
    bandRows(incoming, k, rowsPerBand)
      .hint("shuffle_hash")
      .join(bandRows(existing, k, rowsPerBand)
              .select(col("doc_id").as("dup_of"), col("band"), col("bucket")),
            Seq("band", "bucket"))
      .groupBy(col("doc_id"), col("dup_of"))
      .agg(count(lit(1)).as("n_bands"))

  /** SimHash-32 fingerprint: per bit b, the sign of Σ_tokens ±1 (weighted by
    * occurrence) where the per-token bit comes from md5's first 8 hex chars.
    * One map-side HOF pipeline: tokens → 32-lane accumulator → packed long.
    * Near-dups differ in few bits (compare via Hamming distance).
    */
  def simhash32(text: Column): Column = {
    val toks = TextAnalysis.tokens(text)
    aggregate(
      toks,
      expr("array_repeat(0L, 32)"),
      (acc, t) => {
        val h = conv(substring(md5(t.cast("binary")), 1, 8), 16, 10).cast("long")
        // bit b of h, via exact double pow (2^b ≤ 2^31, exactly representable)
        def bitMask(b: Column): Column = pow(lit(2.0), b).cast("long")
        zip_with(acc,
          transform(sequence(lit(0), lit(31)),
            b => when(h.bitwiseAND(bitMask(b)) =!= 0, lit(1L)).otherwise(lit(-1L))),
          (x, y) => x + y)
      },
      acc => aggregate(
        zip_with(acc, sequence(lit(0), lit(31)),
          (v, b) => when(v >= 0, pow(lit(2.0), b).cast("long")).otherwise(lit(0L))),
        lit(0L), (s, v) => s + v))
  }

  /** SimHash-32 *table* (doc_id, simhash): explode tokens, hash each once
    * (codegen'd md5 + conv), 32 conditional-sum lanes in one partial+final
    * hash aggregate, pack the sign bits. The HOF column form above inlines
    * the md5 subtree into every bit lane (32 evaluations per token,
    * interpreted — observed 16 s vs ~1 s at sf0.1); this is the 100 TB path
    * and the exact shape of the DuckDB oracle twin.
    */
  def simhash32Table(docs: DataFrame): DataFrame = {
    // spread (range-by-doc_id): parallel hash lanes locally, and the
    // per-doc aggregate + doc_id-ordered output then need no exchange
    val hashed = TextAnalysis.explodeTokens(docs, spread = true)
      .select(col("doc_id"),
        conv(substring(md5(col("token").cast("binary")), 1, 8), 16, 10)
          .cast("long").as("h"))
    val lanes = (0 until 32).map(b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(lit(1L)) === 1L, 1L)
        .otherwise(-1L)).as(s"s$b"))
    val packed = (0 until 32)
      .map(b => when(col(s"s$b") >= 0, lit(1L << b)).otherwise(lit(0L)))
      .reduce(_ + _)
    hashed.groupBy("doc_id")
      .agg(lanes.head, lanes.tail: _*)
      .select(col("doc_id"), packed.as("simhash"))
  }

  /** Driver-local union-find over a collected sub-threshold pair set — the
    * small-graph path of [[dupClusters]]. Canonical = component minimum
    * under the id type's natural ordering (identical to the Catalyst
    * `least`/`min` the distributed loop uses for the numeric and ASCII id
    * types in play; UTF-16 vs UTF-8 order divergence on supplementary-plane
    * string ids is the one documented gap). Result ships back as a
    * LocalRelation with the pair columns' exact type, so the survivor
    * anti-join downstream can broadcast it.
    */
  private def localComponents(spark: org.apache.spark.sql.SparkSession,
                              pairRows: Array[org.apache.spark.sql.Row],
                              schema: org.apache.spark.sql.types.StructType): DataFrame = {
    import scala.collection.mutable
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{StructField, StructType}
    val index = mutable.HashMap.empty[Any, Int]
    val vals = mutable.ArrayBuffer.empty[Any]
    def idx(v: Any): Int =
      index.getOrElseUpdate(v, { vals += v; vals.size - 1 })
    pairRows.foreach { r => idx(r.get(0)); idx(r.get(1)) }
    val parent = Array.tabulate(vals.size)(identity)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != c) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    pairRows.foreach { r =>
      val (ra, rb) = (find(idx(r.get(0))), find(idx(r.get(1))))
      if (ra != rb) parent(rb) = ra
    }
    val lt = (x: Any, y: Any) => x.asInstanceOf[Comparable[Any]].compareTo(y) < 0
    val canon = mutable.HashMap.empty[Int, Any]
    vals.indices.foreach { i =>
      val r = find(i)
      val cur = canon.get(r)
      if (cur.isEmpty || lt(vals(i), cur.get)) canon(r) = vals(i)
    }
    val dt = schema.head.dataType
    val out = new java.util.ArrayList[Row](vals.size)
    vals.indices.foreach { i => out.add(Row(vals(i), canon(find(i)))) }
    spark.createDataFrame(out, StructType(Seq(
      StructField("doc_id", dt, nullable = false),
      StructField("canonical_id", dt, nullable = false))))
  }

  /** Pair ceiling for [[dupClusters]]' driver union-find. */
  val ComponentsDriverPairLimit = 4000000L

  /** Near-dup *clusters* from a pair relation (doc_a < doc_b): connected
    * components, then canonical = the component's minimum doc id — the
    * final step of a dedup pipeline (keep one doc per cluster, drop the
    * rest). Returns (doc_id, canonical_id) for member docs. Deterministic:
    * the result is the unique (member → component-min) relation, whichever
    * path computes it.
    *
    * Two paths, chosen by measured graph size — the broadcast-join pattern
    * applied to components. The dup graph (docs that appear in some
    * ≥-threshold pair) is orders of magnitude smaller than the corpus at
    * any scale, and usually DRIVER-small: at or below
    * [[ComponentsDriverPairLimit]] pairs (≈ a broadcast-sized relation,
    * capped by [[DriverTail.MaxRowsKey]]) the pinned pair set is collected
    * and solved with one union-find pass — exactly as Spark collects a
    * sub-threshold join side rather than shuffling both sides; the result
    * ships back as a LocalRelation (itself broadcast-joinable by the
    * survivor anti-join).
    * Measured at sf0.1 (256-pair graph): the distributed loop costs ~1.2 s
    * of pure per-iteration scheduling for a sub-millisecond union-find.
    * Above the threshold: iterative min-label propagation, converging in
    * ≤ graph-diameter rounds of one join + one aggregate.
    */
  def dupClusters(pairs: DataFrame, maxIters: Int = 30): DataFrame = {
    // Materialize the dup graph once — the pair relation is usually an
    // expensive subtree (a Jaccard join) that must not re-run per iteration
    // (or per branch-probe) — and sever lineage per iteration with
    // localCheckpoint, or the plan deepens every round and each action
    // re-derives all prior rounds (observed: 70 s for a 4-iteration loop
    // that runs in ~2 s checkpointed). Superseded checkpoints are
    // unpersisted eagerly; only the blocks backing the returned labels (and
    // nothing else) stay resident.
    val spark = pairs.sparkSession
    val sc = spark.sparkContext
    def persistentIds: Set[Int] = sc.getPersistentRDDs.keySet.toSet
    val baseline = persistentIds
    val pinned = pairs.select(col("doc_a"), col("doc_b")).localCheckpoint()
    val pinnedIds = persistentIds -- baseline
    // Size gate and small-graph input in ONE job: a bounded
    // limit(threshold+1) collect over the checkpointed graph. At or below
    // the threshold the probe IS the edge list (the driver union-find's
    // input — the old shape paid a count job and then re-collected the same
    // rows); above it the probe stops at threshold+1 driver rows and the
    // distributed path takes over. The big-graph path thus pays one
    // transient threshold-bounded collect it previously avoided — bounded
    // by the same budget the sub-threshold union-find needs anyway (the
    // driver is sized for it by construction), and negligible against the
    // min-label loop that follows; the steady saving is one job on the
    // sub-threshold path every composed dedup query actually takes.
    // (DriverTail clamps the budget below Int.MaxValue: the driver
    // union-find indexes edges with Int arrays)
    val probe = DriverTail.collectWithin(pinned, ComponentsDriverPairLimit)
    if (probe.isDefined) {
      val out = localComponents(spark, probe.get, pinned.schema)
      pinnedIds.foreach(id => sc.getPersistentRDDs.get(id).foreach(_.unpersist(blocking = false)))
      return out
    }
    val nPairs = pinned.count()
    val edgeIds = pinnedIds
    // Distributed path. Size the loop to the DUP GRAPH, not the corpus:
    // the session's shuffle-partition default tracks corpus scale, but
    // every relation inside the loop is bounded by the graph (2|pairs|
    // edge rows + one label row per member doc). Running the iterations at
    // the corpus partitioning is pure scheduler/AQE overhead. One partition
    // per ~2M edges, never above the session default. The conf is restored
    // in the finally — the returned labels are checkpoint-rooted, so
    // downstream consumers plan at the session default as before.
    val edges = pinned.select(col("doc_a").as("a"), col("doc_b").as("b"))
      .unionByName(pinned.select(col("doc_b").as("a"), col("doc_a").as("b")))
    val loopParts = math.max(1L,
      math.min(2 * nPairs / 2000000L, spark.conf.get(graft.GraftSession.ShufflePartitions).toLong))
    graft.GraftSession.withConf(spark, graft.GraftSession.ShufflePartitions, loopParts.toString) {
    // Fused first iteration: with identity labels the generic step
    // (join labels, min over neighbor labels, least with own) collapses to
    // one aggregate — label(a) = min(a, min over neighbors b) — replacing a
    // distinct + two joins with a single shuffle (measured 1.1 → 0.75 s on
    // the sf0.1 dup graph; per-round fixed cost, the part that does NOT
    // shrink at scale is the one aggregate, which is the minimum possible).
    var labels = edges.groupBy(col("a"))
      .agg(least(col("a"), min(col("b"))).as("canonical_id"))
      .select(col("a").as("doc_id"), col("canonical_id"))
      .localCheckpoint()
    var labelIds = persistentIds -- baseline -- edgeIds
    var converged = false
    var i = 1
    while (!converged && i < maxIters) {
      val neighborMin = edges
        .join(labels.withColumnRenamed("doc_id", "b").withColumnRenamed("canonical_id", "nl"), Seq("b"))
        .groupBy(col("a").as("doc_id")).agg(min(col("nl")).as("nmin"))
      val beforeUpd = persistentIds
      // carry the previous label on the updated rows: the convergence check
      // is then a filter-count over the just-checkpointed (tiny) relation
      // instead of a re-join against the previous labels — one job per
      // iteration, no shuffle
      val updated = labels.join(neighborMin, Seq("doc_id"), "left_outer")
        .select(col("doc_id"),
                least(col("canonical_id"), coalesce(col("nmin"), col("canonical_id")))
                  .as("canonical_id"),
                col("canonical_id").as("__old"))
        .localCheckpoint()
      val updatedIds = persistentIds -- beforeUpd
      val changed = updated.filter(col("canonical_id") =!= col("__old")).count()
      // previous labels are superseded — release their blocks now
      labelIds.foreach(id => sc.getPersistentRDDs.get(id).foreach(_.unpersist(blocking = false)))
      labelIds = updatedIds
      labels = updated.select("doc_id", "canonical_id")
      converged = changed == 0
      i += 1
    }
    edgeIds.foreach(id => sc.getPersistentRDDs.get(id).foreach(_.unpersist(blocking = false)))
    if (!converged)
      throw new IllegalStateException(
        s"dupClusters did not converge in $maxIters iterations — " +
        "the dup graph has a longer chain than expected; raise maxIters")
    labels
    }
  }

  /** Exact n-gram Jaccard near-dup pairs via inverted-index self-join:
    * distinct (doc, shingle) → join on shingle → per-pair shared count →
    * `|A∩B| / (|A|+|B|−|A∩B|)`. Exact (integer counts, one double division).
    *
    * `maxShingleDf` (0 = off) restricts the *measure itself* to shingles
    * with document frequency ≤ cap: both the shared counts and the per-doc
    * set sizes are computed over the capped shingle universe, so the result
    * is the exact Jaccard of the df-filtered sets — a well-defined
    * similarity, not a deflated mix of capped intersections over uncapped
    * sizes. At 100 TB the handful of ubiquitous stop-shingles would
    * otherwise dominate the inverted-index join.
    */
  def ngramJaccardPairs(docs: DataFrame, n: Int, threshold: Double,
                        maxShingleDf: Int = 0): DataFrame = {
    val p = cappedHashedPostings(docs, n, maxShingleDf)
    jaccardFromPostings(p, threshold)
  }

  /** Shared inverted-index core for [[ngramJaccardPairs]] and
    * [[containmentPairs]]: distinct 64-bit-hashed (doc, shingle) postings,
    * optionally df-capped, pre-partitioned on the shingle key.
    */
  private def cappedHashedPostings(docs: DataFrame, n: Int,
                                   maxShingleDf: Int): DataFrame = {
    // Shingle strings are 64-bit-hashed at the explode (Broder's shingle
    // hashing): every downstream shuffle — df-cap aggregate, both self-join
    // sides, sizes — moves 8-byte longs instead of ~20-char strings, and
    // the join compares/hashes primitives. The measure is then Jaccard over
    // hashed shingle sets, which equals string-shingle Jaccard unless two
    // distinct shingles collide: P ≈ d²·2⁻⁶⁵ for d distinct shingles —
    // ~10⁻⁹ at sf0.1's 2.6·10⁵ and still ~10⁻⁴ at 10⁹ distinct shingles,
    // far below any near-dup threshold's sensitivity.
    val sh = TextAnalysis.explodeShingles(docs, n)
      .select(col("doc_id"), xxhash64(col("g")).as("g"))
    // The df cap drops the OVERFLOW shingles (df > cap) — a Zipf-head set
    // orders of magnitude smaller than the kept universe, so the cap is a
    // broadcast anti-join (map-side over the checkpointed postings) instead
    // of a full postings-shuffle semi-join (measured 1.4 → 1.2 s at sf0.1;
    // one full shuffle fewer at any scale). Pathological corpora where the
    // overflow head itself is huge would want the semi-join form back —
    // with natural-language shingles it is bounded by a few thousand stop
    // phrases.
    // ONE materialization point: the CAPPED postings. They are referenced
    // four times below (both self-join sides + both size lookups), and
    // without a checkpoint each reference re-runs explode → df-cap
    // aggregate → anti-join — the executed plan showed FOUR overflow
    // aggregates, each a full postings shuffle. The raw explode, by
    // contrast, is cheap enough that its two consumers (the overflow
    // aggregate and the anti-join probe side) just re-run it: checkpointing
    // it as well was measured a net loss (the extra materialization job
    // costs more than the repeated map-side explode), and the same held for
    // the tiny sizes relation (two broadcast builds over the checkpointed
    // postings beat an extra eager job).
    val p =
      if (maxShingleDf > 0) {
        val overflow = sh.groupBy("g").agg(count(lit(1)).as("df"))
          .filter(col("df") > maxShingleDf).select("g")
        // pre-hashed on g AT the checkpoint: the self-join below then reads
        // an already-satisfying partitioning on BOTH sides and plans zero
        // exchanges — the postings cross the wire once (here) instead of
        // twice (once per join side). The partition count is EXPLICIT:
        // a bare repartition(col) is an AQE-coalescible shuffle, and a
        // coalesced partitioning captured into the checkpoint no longer
        // satisfies the join's required distribution, re-adding both
        // exchanges (observed in the executed plan).
        // AQE must be off while THIS plan materializes: an adaptive plan
        // reports UnknownPartitioning to the checkpoint capture, which
        // silently re-adds both join-side exchanges (observed). The
        // static plan is identical here (the one join is an explicit
        // broadcast), so nothing is lost.
        val sess = docs.sparkSession
        graft.GraftSession.withStaticPlan(sess) {
          sh.join(broadcast(overflow), Seq("g"), "left_anti")
            .select("doc_id", "g")
            .repartition(sess.sessionState.conf.numShufflePartitions, col("g"))
            .localCheckpoint()
        }
      } else sh.select("doc_id", "g")
      // Uncapped path (maxShingleDf = 0) stays UN-checkpointed — measured
      // refutation, round 14: giving it the capped branch's repartition(g)
      // + checkpoint (so the self-join plans zero exchanges and the explode
      // runs once instead of three times) read WORSE on every consumer row
      // in an interleaved cross-classes A/B at sf0.1 (dup_clusters
      // 0.94 → 1.58, cluster_aware_splits 1.14 → 1.63, lsh_recall
      // 2.95 → 3.63; matched-calib brackets). The capped branch's
      // checkpoint pays for itself by NOT re-running the overflow
      // aggregate per consumer; with no aggregate to save, the extra
      // EAGER materialization job (explode + full postings shuffle +
      // block write, serialized before any consumer starts) costs more
      // than the map-side explode re-runs it removes.
    p
  }

  /** Weighted n-gram-frequency COSINE near-dup pairs over df-capped
    * hashed shingle TF vectors — the frequency-weighted complement to
    * [[ngramJaccardPairs]]' set semantics: Jaccard treats a shingle used
    * once and fifty times identically, so template pages differing only
    * in repetition depth score alike; TF cosine separates them, which is
    * the measure SimHash approximates and the dedup literature reports
    * alongside Jaccard. (Token-grain vectors were considered and rejected:
    * cosine needs a sparse feature space, and n-gram shingling is what
    * manufactures sparsity from a small vocabulary — the same reason the
    * Jaccard family shingles.) Same scale skeleton as the Jaccard path:
    * hashed postings (8-byte shingle keys — [[cappedHashedPostings]]'
    * collision argument), Zipf-head df cap via broadcast anti-join, ONE
    * checkpointed pre-partitioned postings relation feeding the
    * shuffle-hash self-join, per-doc norms joined onto the PAIR aggregate
    * (never the postings). `minDot` floors the shared weight so two
    * near-empty capped vectors sharing their single shingle don't emit a
    * spurious cosine-1.0 row. All sums exact BIGINTs (tf ≤ doc length, so
    * tf², Σtf², and the pair dot sit far inside 2⁶³); cosine =
    * dot/(√n2_a·√n2_b) is one mirrored double chain rounded 6, and the
    * threshold tests the ROUNDED value so both engines cut identically.
    */
  def tfCosinePairs(docs: DataFrame, n: Int, threshold: Double,
                    maxShingleDf: Int, minDot: Long = 1L): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1], got $threshold")
    require(maxShingleDf >= 1, s"maxShingleDf must be >= 1, got $maxShingleDf")
    val sess = docs.sparkSession
    val tf0 = TextAnalysis.explodeShingles(docs, n, distinct = false,
        spread = true)
      .select(col("doc_id"), xxhash64(col("g")).as("g"))
      .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("tf"))
    val overflow = tf0.groupBy("g").agg(count(lit(1)).as("df"))
      .filter(col("df") > maxShingleDf).select("g")
    val p = tf0.join(broadcast(overflow), Seq("g"), "left_anti")
      .repartition(sess.sessionState.conf.numShufflePartitions, col("g"))
      .localCheckpoint()
    val norms = p.groupBy("doc_id").agg(sum(col("tf") * col("tf")).as("n2"))
    val cosine = round(col("dot").cast("double") /
      (sqrt(col("n2_a").cast("double")) * sqrt(col("n2_b").cast("double"))), 6)
    p.select(col("doc_id").as("doc_a"), col("g"), col("tf").as("tf_a"))
      .hint("shuffle_hash")
      .join(p.select(col("doc_id").as("doc_b"), col("g"), col("tf").as("tf_b")),
            Seq("g"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(sum(col("tf_a") * col("tf_b")).as("dot"))
      .filter(col("dot") >= minDot)
      .join(norms.select(col("doc_id").as("doc_a"), col("n2").as("n2_a")), Seq("doc_a"))
      .join(norms.select(col("doc_id").as("doc_b"), col("n2").as("n2_b")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("dot"), cosine.as("cosine"))
      .filter(col("cosine") >= threshold)
  }


  private def jaccardFromPostings(p: DataFrame, threshold: Double): DataFrame = {
    // Per-doc (capped-universe) set sizes join onto the PAIR AGGREGATE, not
    // onto the postings: the only full-size shuffles are then the inverted-
    // index self-join on `g` and the pair aggregation, while the sizes
    // relation (one small row per doc) joins against the far smaller
    // candidate-pair set on its doc keys. An earlier window-count formulation
    // carried sz on every posting row — a second full shuffle of the postings
    // by doc_id that this shape simply does not need, locally or at 100 TB.
    // Checkpointed (one tiny row per doc) so the sz_a and sz_b broadcast
    // builds share one aggregation instead of re-running it.
    val sizes = p.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    // shuffle-hash, not sort-merge: the join key is a high-cardinality
    // shingle whose per-key group is bounded by the df cap, so the build
    // side is small per partition and there is nothing to gain from sorting
    // 20-char strings on both sides (measured 1.8× on this query). Sizing at
    // scale: the per-partition build side is postings/shuffle-partitions —
    // keep shuffle partitions proportional to corpus size as usual.
    // (A fused alternative — groupBy(g).collect_list + map-side i<j
    // combination explode, one postings shuffle instead of two — was
    // measured SLOWER here, 0.95 → 1.68 s at sf0.1: the object-hash
    // collect_list aggregate plus non-codegen higher-order-function
    // evaluation costs more than the codegen'd second shuffle it saves.)
    p.select(col("doc_id").as("doc_a"), col("g")).hint("shuffle_hash")
      .join(p.select(col("doc_id").as("doc_b"), col("g")), Seq("g"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("shared"))
      .join(sizes.select(col("doc_id").as("doc_a"), col("sz").as("sz_a")), Seq("doc_a"))
      .join(sizes.select(col("doc_id").as("doc_b"), col("sz").as("sz_b")), Seq("doc_b"))
      .withColumn("jaccard",
        col("shared").cast("double") / (col("sz_a") + col("sz_b") - col("shared")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** Asymmetric set-CONTAINMENT pairs (Broder 1997's "B ⊆̃ A" measure):
    * `|A∩B| / |A|` and `|A∩B| / |B|` over the df-capped hashed shingle
    * sets, keeping pairs where EITHER direction clears the threshold.
    * Jaccard misses subset duplication by construction — a document
    * wholly contained in one 10× its size scores J = |A|/|B| ≈ 0.1 but
    * containment 1.0 — and quote-heavy or template-expanded corpora dup
    * in exactly that shape, so a dedup pass needs both measures
    * ([[ngramJaccardPairs]] for symmetric near-dups, this for
    * subset/superset structure).
    *
    * Same inverted-index core and scale shape as [[ngramJaccardPairs]]
    * (one postings shuffle, pair aggregate bounded by the df cap, sizes
    * broadcast onto the pair set); the measure is exact over the capped
    * shingle universe — integer counts, two double divisions, rounded 6
    * AFTER the threshold filter so the gate sees the exact ratio.
    */
  def containmentPairs(docs: DataFrame, n: Int, threshold: Double,
                       maxShingleDf: Int = 0): DataFrame = {
    val p = cappedHashedPostings(docs, n, maxShingleDf)
    val sizes = p.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    p.select(col("doc_id").as("doc_a"), col("g")).hint("shuffle_hash")
      .join(p.select(col("doc_id").as("doc_b"), col("g")), Seq("g"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_shared"))
      .join(sizes.select(col("doc_id").as("doc_a"), col("sz").as("sz_a")), Seq("doc_a"))
      .join(sizes.select(col("doc_id").as("doc_b"), col("sz").as("sz_b")), Seq("doc_b"))
      .withColumn("ca", col("n_shared").cast("double") / col("sz_a"))
      .withColumn("cb", col("n_shared").cast("double") / col("sz_b"))
      .filter(greatest(col("ca"), col("cb")) >= threshold)
      .select(col("doc_a"), col("doc_b"), col("n_shared"),
              round(col("ca"), 6).as("containment_a"),
              round(col("cb"), 6).as("containment_b"))
  }

  /** Lines (split on `\n`) occurring in at least `minDocs` *distinct*
    * documents — the corpus-frequency table behind line-level boilerplate
    * removal (the classic web-corpus cleaning pass: navigation chrome,
    * cookie banners, footer text repeat across pages far more often than
    * real prose). One explode + one hash-aggregate; the shuffle is
    * proportional to distinct lines, and the returned head is the Zipf
    * head — orders of magnitude smaller than the corpus.
    */
  def boilerplateLines(docs: DataFrame, minDocs: Int,
                       textCol: String = "text"): DataFrame =
    docs.select(col("doc_id"), explode(split(col(textCol), "\n")).as("line"))
      .groupBy("line").agg(countDistinct(col("doc_id")).as("n_docs"))
      .filter(col("n_docs") >= minDocs)

  /** Line-level boilerplate removal: drop every line that appears in ≥
    * `minDocs` distinct documents, preserve the original order of the
    * surviving lines, and report per-document keep/drop counts alongside
    * the cleaned text. Documents whose every line is boilerplate survive
    * with empty text (the downstream length/quality gate is the right place
    * to drop them, not a silent row disappearance here).
    *
    * Scale shape: map-side posexplode → anti-join against the (small,
    * broadcastable) boilerplate head → one groupBy(doc_id) whose
    * sort_array-of-structs reassembly shuffles each surviving line exactly
    * once. No window, no second pass over the corpus.
    */
  def dropBoilerplateLines(docs: DataFrame, minDocs: Int,
                           textCol: String = "text"): DataFrame = {
    // One explode shared by three consumers (frequency pass, anti-join
    // probe side, per-doc totals). Lazy persist, not localCheckpoint: the
    // explode is map-side work that parallelizes with the scan, and the
    // eager checkpoint job costs more than the recompute it saves
    // (measured on the catalog row at sf0.1: localCheckpoint 1.56 s,
    // no materialization 0.94 s, lazy persist 0.9 s — the persist wins or
    // ties because the first consumer's shuffle materializes it for the
    // other two without an extra job). Nothing unpersists the (small,
    // line-form) cache: Bench/Verify clear caches between queries; a
    // long-lived session relies on LRU eviction, as with
    // reconcile_disk_state.
    val lines = docs.select(col("doc_id"),
      posexplode(split(col(textCol), "\n")).as(Seq("line_idx", "line")))
      .persist()
    val boiler = lines.groupBy("line")
      .agg(countDistinct(col("doc_id")).as("n_docs"))
      .filter(col("n_docs") >= minDocs)
      .select(col("line"), lit(true).as("is_boiler"))
    // One aggregate computes keep/drop counts AND the reassembly: the
    // boilerplate head joins as a broadcast flag (map-side), and
    // collect_list's skip-nulls contract drops flagged lines from the
    // rebuild — no anti-join pass, no separate totals pass, no final join.
    // Every doc keeps a row (split("") = [""] ⇒ ≥1 line per doc), and an
    // all-boilerplate doc reassembles as array_join([]) = "".
    lines.join(broadcast(boiler), Seq("line"), "left_outer")
      .groupBy("doc_id")
      .agg(
        sum(when(col("is_boiler"), 0L).otherwise(1L)).as("n_lines_kept"),
        sum(when(col("is_boiler"), 1L).otherwise(0L)).as("n_lines_dropped"),
        array_join(
          transform(
            array_sort(collect_list(
              when(col("is_boiler").isNull, struct(col("line_idx"), col("line"))))),
            s => s.getField("line")),
          "\n").as("clean_text"))
  }

  /** Token-level n-grams with POSITIONS, hashed for the shuffle: one row per
    * (doc, pos) with an 8-byte `xxhash64` key over the n words starting at
    * `pos` (0-based). The key never reaches any output — only its equality
    * structure matters (which positions share a window) — so the oracle is
    * free to use a different injective-enough hash (it uses an md5 prefix)
    * and still match every emitted row; the engines can only diverge on a
    * hash collision either side (the [[ngramJaccardPairs]] note:
    * P ≈ d²·2⁻⁶⁵). Docs shorter than `n` tokens contribute nothing.
    */
  def positionedGramKeys(docs: DataFrame, n: Int,
                         textCol: String = "text"): DataFrame =
    // The codegen'd WordShingles emits one window per starting position in
    // order, so posexplode's ordinal IS the token offset; the md5 runs in a
    // codegen Project over the exploded rows. The builtin-HOF formulation
    // (transform(sequence(0, size−n), i → md5(concat_ws(slice(…))))) was
    // measured 2.6× slower on the catalog row (interpreted lambda per
    // window + blocked whole-stage codegen — the WordShingles scaladoc
    // trade, repeated here at position grain). The size() guard keeps
    // short docs out BEFORE the expression: WordShingles' short-doc
    // fallback emits [text], which would masquerade as a pos-0 "window".
    docs.filter(size(split(col(textCol), " ")) >= n)
      .select(col("doc_id"),
        posexplode(org.apache.spark.sql.graft.TextExpressions
          .wordShingles(col(textCol), n)))
      .select(col("doc_id"), col("pos"), xxhash64(col("col")).as("gkey"))

  /** Winnowing document fingerprints (Schleimer, Wilkerson & Aiken, SIGMOD
    * 2003 — the MOSS sketch): hash every k-token window, slide a w-wide
    * frame over the per-doc hash sequence, and select each frame's MINIMUM
    * hash, ties to the RIGHTMOST position. The paper's guarantee: any
    * shared run of ≥ w + k − 1 tokens between two documents shares at
    * least one selected fingerprint; expected density 2/(w+1) — the
    * position-robust sketch between full positioned grams (exact, big) and
    * MinHash (positionless).
    *
    * The rightmost-min rule is encoded ORDER-THEORETICALLY so one window
    * `min` computes it: minimize `h || lpad(10⁹−1−pos)` — lexicographic on
    * the 32-hex-char hash first, then on descending position (the 9-digit
    * zero-padded complement), so the frame minimum IS (min hash, rightmost
    * tie). Both engines evaluate the identical string min; positions are
    * bounded < 10⁹ by the pad width (token offsets — a doc would need a
    * billion tokens to break it).
    *
    * Scale shape: one codegen'd shingle explode, one frame-window pass
    * partitioned by doc_id (per-doc state = w rows), one distinct whose
    * shuffle is the SELECTED rows only (≈ 2/(w+1) of gram positions). Docs
    * shorter than w grams keep their global min (pos-0 frame covers the
    * whole doc), so every doc is fingerprinted — the <k-token fallback
    * shingle [text] gives degenerate docs exactly one fingerprint.
    *
    * Returns (doc_id, pos, gram_hash): the selected fingerprint set.
    */
  def winnowingFingerprints(docs: DataFrame, k: Int = 4, w: Int = 4,
                            textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1 && w >= 1 && w <= 1000, s"unreasonable k=$k w=$w")
    val grams = docs.select(col("doc_id"),
        posexplode(org.apache.spark.sql.graft.TextExpressions
          .wordShingles(col(textCol), k)))
      .select(col("doc_id"), col("pos"), md5(col("col").cast("binary")).as("h"))
    val selKey = concat(col("h"),
      lpad((lit(999999999L) - col("pos")).cast("string"), 9, "0"))
    // both frames ride ONE exchange: same partitioning (doc_id), same
    // ordering — Spark stacks them into a single Window operator chain
    val frame = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(Window.currentRow, w - 1)
    val whole = Window.partitionBy(col("doc_id"))
    grams
      .withColumn("sel", min(selKey).over(frame))
      .withColumn("nf", count(lit(1)).over(frame))
      .withColumn("total", count(lit(1)).over(whole))
      .filter(col("nf") === w || (col("total") < w && col("pos") === 0))
      .select(col("doc_id"), col("sel")).distinct()
      .select(col("doc_id"),
              (lit(999999999L) - substring(col("sel"), 33, 9).cast("long")).as("pos"),
              substring(col("sel"), 1, 32).as("gram_hash"))
  }

  /** Winnowing overlap pairs — the MOSS comparison step over
    * [[winnowingFingerprints]]: invert the selected-fingerprint sets,
    * self-join on fingerprint, and report doc pairs sharing ≥ `minShared`
    * fingerprints with their overlap coefficient
    * n_shared / min(|A|, |B|) — sizes over the df-capped universe, so the
    * measure is the exact overlap of the filtered sets (the
    * [[ngramJaccardPairs]] well-definedness note).
    *
    * Scale shape mirrors [[ngramJaccardPairs]]: the Zipf-head overflow
    * fingerprints (df > `maxDf`) leave via a broadcast anti-join before
    * the inverted-index self-join, the capped postings are the ONE
    * materialization point (four consumers), and the sizes relation joins
    * onto the PAIR AGGREGATE (pairs ≪ postings), not the postings. The
    * winnowing selection has already shrunk the posting lists to
    * ≈ 2/(w+1) of gram positions — the sketch's whole point: near-exact
    * substring-match detection at a fraction of the index size.
    */
  def winnowingOverlapPairs(docs: DataFrame, k: Int = 4, w: Int = 4,
                            minShared: Long = 2, maxDf: Int = 50,
                            textCol: String = "text"): DataFrame = {
    val fp = winnowingFingerprints(docs, k, w, textCol)
      .select(col("doc_id"), col("gram_hash")).distinct()
    val overflow = fp.groupBy(col("gram_hash")).agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDf).select("gram_hash")
    val p = fp.join(broadcast(overflow), Seq("gram_hash"), "left_anti")
      .localCheckpoint()
    val sizes = p.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    // no broadcast hint on the size joins: the pair aggregate is tiny but
    // sizes is doc-grain — runtime stats (AQE) pick the build side
    p.select(col("gram_hash"), col("doc_id").as("doc_a"))
      .join(p.select(col("gram_hash"), col("doc_id").as("doc_b")), Seq("gram_hash"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .join(sizes.select(col("doc_id").as("doc_a"), col("sz").as("sz_a")), Seq("doc_a"))
      .join(sizes.select(col("doc_id").as("doc_b"), col("sz").as("sz_b")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("n_shared"),
              (col("n_shared").cast("double") /
                least(col("sz_a"), col("sz_b")).cast("double")).as("overlap"))
  }

  /** Duplicated-substring detection at token granularity (the
    * train-data pass popularized by "Deduplicating Training Data Makes
    * Language Models Better", Lee et al. 2021): every MAXIMAL span of ≥ `n`
    * consecutive tokens whose every length-`n` window also appears in at
    * least `minDocs` distinct documents. Returns one row per (doc, span):
    * `(doc_id, span_start, span_tokens)` with `span_start` the 0-based
    * token offset.
    *
    * Exactly the suffix-array duplicate-span semantics restated in
    * relational form: a duplicated span of length L ≥ n is precisely a run
    * of L−n+1 consecutive duplicated n-gram windows, so gaps-and-islands
    * over the duplicated window positions reconstructs the maximal spans
    * without any suffix sorting. (Spans duplicated only WITHIN one document
    * are intentionally out: `minDocs` counts distinct docs, the cross-doc
    * contamination signal; raise granularity by lowering `n`.)
    *
    * Scale shape (100 TB): the explode is map-side (grams never exceed
    * tokens×1), the only full-width shuffle groups by the uniform 16-char
    * hash key with partial aggregation (shuffle ∝ distinct grams), the
    * duplicated-key set joining back is the Zipf head (orders of magnitude
    * smaller than the corpus — broadcast at moderate dup rates, shuffle-hash
    * semi-join beyond), and the island window partitions by doc_id —
    * per-doc state, no global sort. No stage is quadratic in corpus size;
    * contrast the true suffix-array construction, which needs a global sort
    * of every suffix.
    */
  def duplicateSpans(docs: DataFrame, n: Int = 8, minDocs: Int = 2,
                     textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // Two consumers of the gram table (dup-key aggregate; join probe side):
    // the explode is cheap map-side work over the scan — re-running it
    // beats materializing 40× the corpus row count (the dropBoilerplateLines
    // persist note, same trade at gram grain).
    val grams = positionedGramKeys(docs, n, textCol)
    val dupKeys = dupGramHead(grams, minDocs)
    // Inner join ≡ semi-join here (dupKeys is unique per gkey); each
    // surviving row is one duplicated window occurrence. NO broadcast hint:
    // the dup head is the Zipf head locally but grows with the corpus's
    // duplication rate — a forced broadcast OOMs the driver on a heavily
    // duplicated 100 TB crawl. AQE's runtime stats pick broadcast at this
    // head size anyway (verified in the executed plan; same measured time
    // as the hinted form at 1× and 3×) and degrade to a shuffle join when
    // the head is genuinely large — measured at the 9× replica: AQE flips
    // to shuffle at 5.5 → 7.8 s, the insurance premium paid exactly when
    // a forced broadcast would start threatening the driver.
    val dupPos = grams.join(dupKeys, Seq("gkey"))
    // Gaps-and-islands: consecutive duplicated window starts share
    // (pos − row_number), and an island of windows [s .. e] covers tokens
    // s .. e+n−1 ⇒ span_tokens = e − s + n.
    val w = Window.partitionBy("doc_id").orderBy("pos")
    dupPos
      .withColumn("island", col("pos") - row_number().over(w))
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("pos")).cast("long").as("span_start"),
           (max(col("pos")) - min(col("pos")) + n).cast("long").as("span_tokens"))
      .select(col("doc_id"), col("span_start"), col("span_tokens"))
  }

  /** The duplicated-gram head shared by the substring-dedup family.
    * minDocs == 2 (the common contamination gate) needs only "two distinct
    * docs exist", i.e. min(doc_id) ≠ max(doc_id): a plain min/max aggregate
    * partial-aggregates map-side, so the shuffle carries one row per
    * DISTINCT gram — the general countDistinct form plans two full-width
    * exchanges (by (gkey, doc_id), then by gkey) of every occurrence
    * (measured on the duplicate_spans catalog row: 1.41 → 1.15 s at sf0.1,
    * and at corpus scale the saved exchange is the full gram table).
    */
  private def dupGramHead(grams: DataFrame, minDocs: Int): DataFrame =
    (if (minDocs == 2)
       grams.groupBy("gkey")
         .agg(min(col("doc_id")).as("lo"), max(col("doc_id")).as("hi"))
         .filter(col("lo") =!= col("hi"))
     else
       grams.groupBy("gkey")
         .agg(countDistinct(col("doc_id")).as("nd"))
         .filter(col("nd") >= minDocs))
      .select("gkey")

  /** Per-document duplication pressure (the RefinedWeb curation report):
    * for every doc of ≥ `n` tokens, how many of its `n`-token windows also
    * appear in ≥ `minDocs` distinct documents — the metric behind "X% of
    * the crawl is cross-document duplicated text" and the per-doc signal a
    * pipeline thresholds before paying for full span removal
    * ([[spanDedupedDocs]]). Returns (doc_id, n_windows, n_dup_windows,
    * dup_frac); the fraction is one exact-integer division.
    *
    * Same scale shape as [[duplicateSpans]] minus the island window: the
    * dup head shuffles one row per distinct gram, the probe join carries
    * the Zipf head, and the final aggregate is per-doc partial-agg. Docs
    * shorter than `n` tokens have no windows and are absent by definition.
    */
  def dupWindowStats(docs: DataFrame, n: Int = 8, minDocs: Int = 2,
                     textCol: String = "text"): DataFrame = {
    val grams = positionedGramKeys(docs, n, textCol)
    val dupKeys = dupGramHead(grams, minDocs).withColumn("d", lit(1L))
    grams.join(dupKeys, Seq("gkey"), "left_outer")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_windows"),
           sum(coalesce(col("d"), lit(0L))).as("n_dup_windows"))
      .select(col("doc_id"), col("n_windows"), col("n_dup_windows"),
              (col("n_dup_windows").cast("double") / col("n_windows"))
                .as("dup_frac"))
  }

  /** The REMOVAL half of substring dedup ([[duplicateSpans]] is the
    * detection half): rewrite the corpus with every non-canonical
    * duplicated window dropped, Lee et al. 2021's "remove all but one
    * occurrence of each duplicated substring" with a deterministic owner
    * rule — a window occurrence survives iff its doc is the MINIMUM doc_id
    * among the docs sharing that window (within-owner repeats are kept:
    * conservative, and within-doc-only repeats are not duplication here by
    * the [[duplicateSpans]] cross-doc convention). Returns every input doc
    * as `(doc_id, n_tokens, n_tokens_removed, clean_text)` — untouched docs
    * ride through with 0 removed, and a fully-duplicated doc survives as
    * empty text (the downstream length gate drops it, not a silent row
    * disappearance — the [[dropBoilerplateLines]] contract).
    *
    * Scale shape: the only token-grain shuffle is the `distinct` over
    * covered positions of NON-OWNED duplicated windows — i.e. ∝ the text
    * actually being removed, not the corpus; the per-doc covered sets then
    * aggregate doc-grain and join back on doc_id, and the rewrite itself is
    * a map-side indexed-`filter` HOF over the original token array (no
    * corpus-grain explode/anti-join/reassembly shuffle, which is the
    * alternative formulation and pays two full-corpus token-grain
    * exchanges). The HOF's membership probe is a linear `array_contains`
    * per token — fine while per-doc covered sets are small; a corpus whose
    * docs carry ~10⁴⁺ covered positions would want the sorted-array binary
    * search or the explode/anti-join form back.
    */
  def spanDedupedDocs(docs: DataFrame, n: Int = 8,
                      textCol: String = "text"): DataFrame = {
    val grams = positionedGramKeys(docs, n, textCol)
    // owner = min doc_id per cross-doc-duplicated window: the same one-
    // exchange min/max partial aggregate as [[duplicateSpans]]' dup head,
    // carrying the min as the owner instead of discarding it.
    val owners = grams.groupBy("gkey")
      .agg(min(col("doc_id")).as("owner_doc"), max(col("doc_id")).as("hi"))
      .filter(col("owner_doc") =!= col("hi"))
      .select("gkey", "owner_doc")
    val covered = grams.join(owners, Seq("gkey"))
      .filter(col("doc_id") =!= col("owner_doc"))
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + n - 1)).as("tpos"))
      .distinct()
    val covByDoc = covered.groupBy("doc_id")
      .agg(collect_list(col("tpos")).as("cov"))
    val toks = split(col(textCol), " ")
    docs.join(covByDoc, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        size(toks).cast("long").as("n_tokens"),
        coalesce(size(col("cov")), lit(0)).cast("long").as("n_tokens_removed"),
        when(col("cov").isNull, col(textCol))
          .otherwise(array_join(
            filter(toks, (t, i) => !array_contains(col("cov"), i)), " "))
          .as("clean_text"))
  }

  /** Edit-distance verification of LSH candidate pairs: the exact-rescore
    * stage a production near-dup pipeline runs after banding (candidate
    * generation is cheap and recall-oriented; the char-level Levenshtein
    * similarity is the precision filter). Candidates come from
    * [[lshCandidatePairs]] — LSH-bounded, never doc×doc — then two equi-joins
    * attach the texts and the codegen'd `levenshtein` built-in scores each
    * pair. `edit_sim = 1 − dist / max(len)` rounded to 6 decimals.
    *
    * Scale: pair count is LSH-bounded and the per-pair cost is O(len_a ×
    * len_b); at cluster scale the rescore would use the bounded 3-arg
    * `levenshtein(l, r, maxDist)` (early-exit at `(1−minSim)·maxLen`) — the
    * 2-arg form is kept here because the DuckDB twin has no bounded variant
    * and the oracle hashes the exact distance column.
    */
  def editDistanceRescore(docs: DataFrame, k: Int = 8, rowsPerBand: Int = 2,
                          minSim: Double = 0.8): DataFrame = {
    val txt = docs.select(col("doc_id"), col("text"))
    lshCandidatePairs(docs, k, rowsPerBand)
      .join(txt.select(col("doc_id").as("doc_a"), col("text").as("__ta")), Seq("doc_a"))
      .join(txt.select(col("doc_id").as("doc_b"), col("text").as("__tb")), Seq("doc_b"))
      .withColumn("edit_dist", levenshtein(col("__ta"), col("__tb")).cast("long"))
      .withColumn("edit_sim",
        round(lit(1.0) - col("edit_dist").cast("double") /
          greatest(length(col("__ta")), length(col("__tb"))).cast("double"), 6))
      .filter(col("edit_sim") >= minSim)
      .select("doc_a", "doc_b", "edit_dist", "edit_sim")
  }

  /** Deletion-neighborhood (SymSpell/FastSS-style) fuzzy entity match:
    * resolve "dirty" strings against a clean reference at edit distance
    * ≤ 1 with GUARANTEED recall and equi-joins only. Both sides expand to
    * their 1-deletion neighborhoods (the string itself plus every
    * drop-one-character variant — len+1 keys, a bounded map-side explode);
    * any lev-≤1 pair must share a key (delete the edited position on
    * whichever side carries it), so the candidate join is a plain hash
    * join on the variant key — no all-pairs comparison exists at ANY
    * corpus size, the same banding argument as [[lshCandidatePairs]] with
    * an exact (not probabilistic) recall proof. Candidates dedup, then the
    * exact `levenshtein ≤ 1` verify drops the false positives the
    * neighborhood join admits (distance-2 pairs sharing a deletion).
    *
    * Emits one row per dirty id: candidate count, whether the TRUE source
    * (`sourceId`) is among them, and the minimum distance — the
    * recall/ambiguity audit of a record-linkage stage. Dirty rows with no
    * candidate survive via left join (n_candidates = 0): silent drops are
    * the one thing a linkage audit must not do.
    */
  /** 1-deletion neighborhood of `nameCol` (the string + every
    * drop-one-character variant): the SymSpell blocking key shared by
    * [[symDeleteMatch]] and [[fellegiSunterLinkage]] — any lev-≤1 pair
    * provably shares a key.
    */
  private def deletionVariants(df: DataFrame, idCol: String, nameCol: String,
                               side: String): DataFrame =
    df.select(col(idCol), col(nameCol),
        explode(expr(
          s"""transform(sequence(0, length($nameCol)), i ->
             |  CASE WHEN i = 0 THEN $nameCol
             |       ELSE concat(substring($nameCol, 1, i - 1),
             |                   substring($nameCol, i + 1, length($nameCol) - i))
             |  END)""".stripMargin)).as("key"))
      .select(col(idCol).as(s"${side}_id"), col(nameCol).as(s"${side}_name"),
              col("key"))

  def symDeleteMatch(dirty: DataFrame, clean: DataFrame): DataFrame = {
    // Round-14 (§2.2 shuffle fewer bytes): the variant JOIN KEY is hashed
    // to a 64-bit long at the explode, so both join-side shuffles move
    // 8-byte primitives instead of ~name-length strings and the join
    // hashes/compares longs. EXACTLY result-preserving, not just
    // probabilistically: every lev≤1 pair shares a TRUE deletion variant
    // (the SymSpell completeness proof above) so hashing can only ADD
    // collision pairs, and the levenshtein ≤ 1 verify below drops every
    // pair that is not genuinely lev≤1 — a collision either duplicates an
    // already-found pair (dedup'd by distinct) or is filtered. The verify
    // runs BEFORE the distinct for the same §2.2 reason: the distinct
    // exchange then carries only verified pairs (filter∘distinct ≡
    // distinct∘filter for a deterministic per-row predicate).
    val dv = deletionVariants(dirty, "dirty_id", "dirty_name", "d")
      .withColumn("key", xxhash64(col("key")))
    val cv = deletionVariants(clean, "clean_id", "clean_name", "c")
      .withColumn("key", xxhash64(col("key")))
    val cands = dv.join(cv, Seq("key"))
      .filter(levenshtein(col("d_name"), col("c_name")) <= 1)
      .select(col("d_id"), col("d_name"), col("c_id"), col("c_name"))
      .distinct()
    // ONE consumer of the candidate relation (round 13): the recovery flag
    // rides the same per-dirty aggregate as a collect_set of candidate ids
    // (bounded: a name's lev<=1 neighborhood under deletion-variant
    // blocking) and resolves with array_contains against source_id at the
    // one dirty-side join. The previous second consumer — a distinct
    // (d_id, c_id) relation left-joined on (d_id, source_id) — re-ran the
    // whole variant explode + equi-join chain (plan audit: the source
    // scanned twice per side), and NULL cases coalesce identically
    // (no candidates -> NULL set -> false; NULL source_id -> NULL -> false).
    val perDirty = cands.groupBy(col("d_id"))
      .agg(count(lit(1)).as("n_candidates"),
           min(levenshtein(col("d_name"), col("c_name")).cast("long"))
             .as("min_dist"),
           collect_set(col("c_id")).as("__cids"))
    dirty.select(col("dirty_id").as("d_id"), col("source_id"))
      .join(perDirty, Seq("d_id"), "left")
      .select(col("d_id").as("dirty_id"),
        coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
        col("min_dist"),
        coalesce(array_contains(col("__cids"), col("source_id")), lit(false))
          .as("source_recovered"))
  }

  /** Fellegi–Sunter field parameters for [[fellegiSunterLinkage]]:
    * (field, m, u) — m = P(agree | same entity), u = P(agree | different
    * entities). The standard Splink-style priors for a name + two
    * categorical fields; EM refinement is out of scope (the weights are
    * the contract, not the estimation).
    */
  val FsFieldParams: Seq[(String, Double, Double)] = Seq(
    ("name", 0.95, 0.001), ("nation", 0.95, 0.04), ("segment", 0.9, 0.2))

  /** Integer micro-nat agreement/disagreement weights per field —
    * (round(10⁶·ln(m/u)), round(10⁶·ln((1−m)/(1−u)))), computed ONCE here
    * and injected as the SAME literals into both engines (the
    * [[graft.ops.Stats.PoissonThresholds]] convention).
    */
  def fsWeights: Seq[(Long, Long)] = FsFieldParams.map { case (_, m, u) =>
    (math.round(1e6 * math.log(m / u)),
     math.round(1e6 * math.log((1 - m) / (1 - u))))
  }

  /** Fellegi–Sunter decision thresholds in micro-nats: score ≥ match ⇒
    * 'match', ≥ possible ⇒ 'possible', else 'non_match'.
    */
  val FsMatchThreshold = 8000000L
  val FsPossibleThreshold = 0L

  /** Fellegi–Sunter probabilistic record linkage (Fellegi & Sunter 1969 —
    * the model under Splink and every census-style ER system) over the
    * SymSpell-blocked candidate space: candidates come from the
    * [[deletionVariants]] equi-join (bounded, exact-recall for lev ≤ 1 name
    * edits — never all-pairs), WITHOUT the lev filter, so the name
    * agreement bit stays discriminative on the distance-2 collisions the
    * blocking admits. Each candidate pair scores the log-likelihood ratio
    * Σ_field (agree ? ln(m/u) : ln((1−m)/(1−u))) in exact integer
    * micro-nats ([[fsWeights]]), and the decision is the classic
    * three-band rule. Emits the per-decision audit — pair count, how many
    * are the TRUE source pair, score range — the precision/recall readout
    * of a linkage stage.
    *
    * Inputs: `dirty` (dirty_id, source_id, dirty_name, d_nation,
    * d_segment), `clean` (clean_id, clean_name, c_nation, c_segment).
    * Shape: map-side len+1 variant explodes, one hash equi-join on the
    * variant key, two field-attach equi-joins, one ≤3-row report
    * aggregate. All-BIGINT scoring; no float surface at all.
    */
  def fellegiSunterLinkage(dirty: DataFrame, clean: DataFrame): DataFrame = {
    val Seq((wNa, wNd), (wTa, wTd), (wSa, wSd)) = fsWeights
    val dv = deletionVariants(dirty, "dirty_id", "dirty_name", "d")
    val cv = deletionVariants(clean, "clean_id", "clean_name", "c")
    val cands = dv.join(cv, Seq("key"))
      .select(col("d_id"), col("c_id")).distinct()
      .join(dirty.select(col("dirty_id").as("d_id"), col("source_id"),
              col("dirty_name"), col("d_nation"), col("d_segment")), Seq("d_id"))
      .join(clean.select(col("clean_id").as("c_id"), col("clean_name"),
              col("c_nation"), col("c_segment")), Seq("c_id"))
    val score =
      when(levenshtein(col("dirty_name"), col("clean_name")) <= 1, lit(wNa))
        .otherwise(lit(wNd)) +
      when(col("d_nation") === col("c_nation"), lit(wTa)).otherwise(lit(wTd)) +
      when(col("d_segment") === col("c_segment"), lit(wSa)).otherwise(lit(wSd))
    cands.withColumn("score", score)
      .withColumn("decision",
        when(col("score") >= FsMatchThreshold, lit("match"))
          .when(col("score") >= FsPossibleThreshold, lit("possible"))
          .otherwise(lit("non_match")))
      .groupBy(col("decision"))
      .agg(count(lit(1)).as("n_pairs"),
           sum(when(col("c_id") === col("source_id"), 1L).otherwise(0L))
             .as("n_true_pairs"),
           min(col("score")).as("min_score_micro"),
           max(col("score")).as("max_score_micro"))
      .orderBy(col("decision"))
  }
}
