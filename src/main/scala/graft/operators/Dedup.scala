package graft.operators

import graft.functions.{TextFunctions => TF}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Large-scale deduplication operators for training-data pipelines.
  *
  * All hashes go through the portable 60-bit md5 prefix (TF.hash60) so every
  * step is deterministic, engine-independent, and oracle-checkable. Scale
  * notes per operator inline — the unit of work is one shuffle per stage,
  * with map-side partial aggregation wherever the key is pre-hashed.
  */
object Dedup {

  /** Exact dedup: hash-groupBy on content digest, keep the smallest id as
    * canonical. One shuffle on the digest (uniform by construction). */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(md5(col(textCol)).as("digest"), col(idCol).cast("long").as("id"))
      .groupBy("digest")
      .agg(count(lit(1)).as("n_docs"), min(col("id")).as("canonical_id"))

  /** URL-level recrawl dedup: Common Crawl captures the same URL across
    * snapshots; keep only the LATEST capture per URL (`tsCol` max), ties
    * broken on the smallest `idCol` so the survivor set is deterministic
    * under any layout.
    *
    * Deliberately an AGGREGATION, not a `row_number` window: `max_by` with
    * a composite (ts, -id) order key combines map-side, so each shuffle
    * partition receives at most one pre-reduced candidate row per URL per
    * map task — a recrawl-heavy corpus (hundreds of captures of popular
    * URLs) reduces before it moves. The equivalent window would shuffle
    * every capture and sort per URL. One uniform shuffle on url. */
  def latestCapture(df: DataFrame, urlCol: String, tsCol: String,
                    idCol: String): DataFrame = {
    val payload = struct(df.columns.map(col): _*)
    val orderKey = struct(col(tsCol).as("ts"), (-col(idCol)).as("neg_id"))
    df.groupBy(urlCol)
      .agg(max_by(payload, orderKey).as("best"), count(lit(1)).as("n_captures"))
      .select(col("best.*"), col("n_captures"))
  }

  /** MinHash signatures: k universal-hash permutations
    * h_i(s) = (a_i · hash60(s) + b_i) mod 2⁶¹−1 (Broder 1997) over the
    * distinct word-3-shingle set — ONE md5 per shingle, arithmetic for the
    * k permutations (constants from [[graft.functions.MinHashPerms]], which
    * the SQL oracles reconstruct from the same md5-60 primitive). Emitted
    * long-form (id, i, sig) so the band step is a single re-aggregation.
    *
    * Scale: explode is a narrow flatMap; the groupBy key (id, i) is uniform.
    * k and shingle width bound the cost at O(shingles · md5 + k · shingles
    * · mulmod) per doc. The 121-bit product is exact in decimal(38,0).
    */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
                        k: Int = 16, shingleWidth: Int = 3): DataFrame = {
    import graft.functions.MinHashPerms
    val aArr = array((0 until k).map(i => lit(MinHashPerms.a(i))): _*)
    val bArr = array((0 until k).map(i => lit(MinHashPerms.b(i))): _*)
    df.select(col(idCol).cast("long").as("id"),
        explode(TF.shingles(col(textCol), shingleWidth)).as("s"))
      .select(col("id"), TF.hash60(col("s")).as("h"))
      .select(col("id"), col("h"), explode(sequence(lit(0), lit(k - 1))).as("i"))
      .groupBy("id", "i")
      .agg(min(((element_at(aArr, col("i") + 1).cast("decimal(38,0)") * col("h")
          + element_at(bArr, col("i") + 1)) % lit(MinHashPerms.P))
        .cast("long")).as("sig"))
  }

  /** Production signature path: one-pass per-row MinHash kernel — no
    * explode, no shuffle (vs the long-form `minhashSignatures`, which is kept
    * as the SQL-oracle-checkable formulation). Value-identical hashes; docs
    * with fewer than `shingleWidth` tokens get all-Long.MaxValue signatures
    * (the long form drops them entirely). */
  def minhashSignaturesFast(df: DataFrame, idCol: String, textCol: String,
                            k: Int = 16, shingleWidth: Int = 3): DataFrame =
    df.select(col(idCol).cast("long").as("id"),
      graft.functions.MinHashFunctions.minhash_sigs(col(textCol), k, shingleWidth).as("sigs"))

  /** Band digests straight from the signature array — a narrow projection +
    * posexplode; the only shuffle left in the whole LSH pipeline is the final
    * candidate join. */
  def lshBandsFast(sigs: DataFrame, rowsPerBand: Int = 4, k: Int = 16): DataFrame = {
    val nBands = k / rowsPerBand
    sigs.select(col("id"), posexplode(
        transform(sequence(lit(0), lit(nBands - 1)), b =>
          md5(concat_ws(",", transform(
            slice(col("sigs"), b * rowsPerBand + 1, lit(rowsPerBand)), _.cast("string")))))))
      .select(col("id"), col("pos").cast("long").as("band"), col("col").as("band_digest"))
  }

  /** [[lshBandsFast]] with an 8-byte band key: digest = xxhash64 of the
    * band's signature slice (the long array hashed directly — no string
    * materialization, no md5). The INTERNAL band representation for tables
    * that shuffle, window, and persist at history scale
    * ([[IncrementalDedup.bandTable]], the lake bands table): the md5-hex
    * form moves a 32-char string per band row where this moves a long —
    * most of the band table's exchange and storage bytes (guide §2.3,
    * narrower types). Candidate semantics are unchanged: equal sig slices
    * hash equal, and an xxhash collision between DIFFERENT slices only
    * MERGES two buckets — extra candidate pairs that then face the exact
    * Jaccard verify, never a lost candidate (recall-safe; the 2⁻⁶⁴ trade
    * every hashed key here makes). The md5-string form stays the declared
    * q15 surface. */
  def lshBandsHashed(sigs: DataFrame, rowsPerBand: Int = 4, k: Int = 16): DataFrame = {
    val nBands = k / rowsPerBand
    sigs.select(col("id"), posexplode(
        transform(sequence(lit(0), lit(nBands - 1)), b =>
          xxhash64(slice(col("sigs"), b * rowsPerBand + 1, lit(rowsPerBand))))))
      .select(col("id"), col("pos").cast("long").as("band"), col("col").as("band_digest"))
  }

  /** LSH band digests: group each signature into bands of `rowsPerBand`,
    * digest = md5 of the ordered sig values. Docs sharing any (band, digest)
    * are near-duplicate candidates. */
  def lshBands(sigs: DataFrame, rowsPerBand: Int = 4): DataFrame =
    sigs.groupBy(col("id"), floor(col("i") / rowsPerBand).as("band"))
      .agg(md5(array_join(transform(array_sort(collect_list(struct(col("i"), col("sig")))),
        x => x.getField("sig").cast("string")), ",")).as("band_digest"))

  /** Candidate pairs: self-join on (band, digest), id_a < id_b, distinct.
    * Scale: the join key is a digest — uniformly distributed; the hazard is
    * a flood bucket (boilerplate/template clusters, not necessarily
    * byte-identical) whose self-join squares into pair blowup. Buckets over
    * `maxBucket` switch from all-pairs to STAR linking — every member pairs
    * with the bucket's minimum id only — so the cluster still reaches
    * Jaccard verify and connected components reassembles the full group,
    * at O(bucket) instead of O(bucket²) pairs. (Dropping the bucket, the
    * naive cap, silently loses near-dup clusters that exact dedup doesn't
    * own.) Costs one window pass on the same key the join shuffles on. */
  def candidatePairs(bands: DataFrame, maxBucket: Int = 4096): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("band", "band_digest")
    val marked = bands.withColumn("_n", count(lit(1)).over(w))
      .withColumn("_mn", min(col("id")).over(w))
    val small = marked.filter(col("_n") <= maxBucket)
    val a = small.select(col("band"), col("band_digest"), col("id").as("id_a"))
    val b = small.select(col("band"), col("band_digest"), col("id").as("id_b"))
    val allPairs = a.join(b, Seq("band", "band_digest"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
    val starPairs = marked
      .filter(col("_n") > maxBucket && col("id") =!= col("_mn"))
      .select(col("_mn").as("id_a"), col("id").as("id_b"))
    allPairs.unionByName(starPairs).distinct()
  }

  /** Exact n-gram Jaccard for candidate pairs (verification step after LSH —
    * only candidates pay the full set comparison). The shingle projection
    * is semi-join-confined to docs that actually appear in a pair: after
    * exact dedup most of a corpus is pair-free, and building a ~200-element
    * shingle array per non-candidate row just to discard it at the join
    * was measurable even within a single batch. */
  def jaccardVerify(df: DataFrame, idCol: String, textCol: String,
                    pairs: DataFrame, shingleWidth: Int = 3): DataFrame = {
    // the candidate-pair set is the natural materialization barrier: it is
    // consumed three times below (two id semi-joins + the verify join), and
    // left lazy each consumer would re-run the whole LSH candidate pipeline
    // (the same reason connectedComponents checkpoints its edges; at
    // cluster scale this is a reliable-checkpoint write)
    val p = pairs.localCheckpoint()
    val base = df.select(col(idCol).cast("long").as("id"), col(textCol))
    // ONE shingle table for both pair sides: the per-side formulation paid
    // the docs exchange (id + full text, for the semi join) and the shingle
    // expression once PER SIDE, and a doc appearing in pairs as both a and
    // b (any cluster of ≥3) computed its shingles twice. Candidate ids are
    // pair-scale, so the materialized table is small and both attach joins
    // broadcast it; at cluster scale this is a reliable-checkpoint write,
    // like the pair checkpoint above.
    val ids = p.select(col("id_a").as("id"))
      .unionByName(p.select(col("id_b").as("id"))).distinct()
    val sh = base.join(ids, Seq("id"), "left_semi")
      // sorted once per doc: the per-pair intersect below is then a
      // zero-allocation merge walk (sorted_intersect_count) instead of a
      // hash set built per pair — set size is order-insensitive, so
      // jaccard is unchanged
      .select(col("id"),
        sort_array(TF.shingleHashes(col(textCol), shingleWidth)).as("sh"))
      .localCheckpoint()
    p
      .join(sh.select(col("id").as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(sh.select(col("id").as("id_b"), col("sh").as("sh_b")), "id_b")
      // |A∪B| = |A|+|B|−|A∩B|: one merge-walk intersect count per pair
      // (see graft.functions.SortedIntersectFunctions.sortedIntersectCount)
      // instead of intersect + a materialized union array (the union
      // allocated ~2× the shingle payload per pair just to be sized and
      // thrown away).
      // Shingle arrays are distinct-by-construction, so the identity is
      // exact (shingle_hashes emits a duplicate hash only on an xxhash
      // string collision — the same 2⁻⁶⁴ trade the hashed arrays make).
      .withColumn("_i", graft.functions.SortedIntersectFunctions
        .sorted_intersect_count(col("sh_a"), col("sh_b")))
      .withColumn("jaccard", col("_i").cast("double") /
        (size(col("sh_a")) + size(col("sh_b")) - col("_i")))
      .select("id_a", "id_b", "jaccard")
  }

  /** Benchmark decontamination: count word-`width`-shingles each corpus doc
    * shares with any benchmark passage (docs over a threshold are dropped
    * from training data so eval numbers stay honest).
    *
    * Scale: the benchmark shingle set is small by nature (benchmarks are
    * MBs, corpora are TBs) → broadcast it; the corpus side is a narrow
    * explode + broadcast semi-join, then one groupBy on the uniform doc id.
    * Corpus shingle sets are distinct per doc (TF.shingles), so the count is
    * "distinct contaminated shingles". */
  def decontaminate(corpus: DataFrame, bench: DataFrame, idCol: String,
                    textCol: String, width: Int = 3): DataFrame = {
    // both sides ride the one-pass shingle_hashes kernel (the Jaccard-
    // verify representation): the corpus explode and the broadcast set carry
    // 8-byte longs instead of ~30-byte shingle strings, and the per-row
    // higher-order gram construction collapses into one expression pass —
    // same 2⁻⁶⁴ collision trade as every hashed-shingle key here
    val benchShingles = bench
      .select(explode(TF.shingleHashes(col(textCol), width)).as("s")).distinct()
    corpus
      .select(col(idCol).cast("long").as("id"),
        explode(TF.shingleHashes(col(textCol), width)).as("s"))
      .join(broadcast(benchShingles), "s")
      .groupBy("id").agg(count(lit(1)).as("n_hits"))
  }

  /** Dup-group resolution: connected components over near-dup candidate
    * pairs — the step that turns pairwise matches into "keep one doc per
    * group". Min-label propagation to a fixpoint: every node's label
    * converges to the smallest id in its component (deterministic).
    *
    * Scale: each round is two joins + a min-aggregation, all on the uniform
    * id key; `localCheckpoint` truncates the growing lineage so round N
    * doesn't replay rounds 1..N-1 (a real cluster would use a reliable
    * checkpoint dir). Plain neighbor propagation needs O(diameter) rounds —
    * a silent-wrong-answer hazard on chain-shaped graphs once maxIter caps
    * it — so each round also pointer-jumps (label ← label of my label, the
    * Shiloach-Vishkin shortcut; same effect as the large-star halving in
    * Kiveris et al., "Connected Components in MapReduce and Beyond"), giving
    * O(log diameter) rounds: maxIter=25 covers diameters past 2^25. If the
    * fixpoint still isn't reached the call THROWS rather than returning
    * partially-propagated labels. */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 25): DataFrame = {
    // both directions in ONE pass over the pair subtree (the union-of-two-
    // selects form planned the upstream pair pipeline twice — the verify
    // joins included — because nothing upstream is an exchange a reuse rule
    // could share)
    val edges = pairs
      .select(explode(array(
          struct(col("id_a").cast("long").as("src"), col("id_b").cast("long").as("dst")),
          struct(col("id_b").cast("long").as("src"), col("id_a").cast("long").as("dst"))))
        .as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .distinct().localCheckpoint()
    // seed = the first propagation round from identity labels, collapsed
    // into ONE aggregation: with label(id) = id everywhere, a round's
    // viaNeighbor/viaLabel min is exactly min(id, min neighbor(id)) — so
    // the seed replaces the old identity-label distinct AND the first
    // round's two joins with a single map-side-combining agg over edges
    var labels = edges.groupBy(col("src").as("id")).agg(min("dst").as("mn"))
      .select(col("id"), least(col("id"), col("mn")).as("comp"))
      .localCheckpoint()
    var converged = false
    var iter = 1 // the seed is round 1
    while (!converged && iter < maxIter) {
      val viaNeighbor = edges
        .join(labels.select(col("id").as("dst"), col("comp")), "dst")
        .select(col("src").as("id"), col("comp"))
      // pointer jump: my label's own current label (comp is always an id
      // that exists in `labels` — labels only ever shrink toward the min)
      val viaLabel = labels.select(col("id"), col("comp").as("hop"))
        .join(labels.select(col("id").as("hop"), col("comp")), "hop")
        .select(col("id"), col("comp"))
      // carry prev through the same aggregation (min picks the one real
      // value under the MaxValue sentinels) — the convergence test is then
      // a filter over the freshly checkpointed result, not an extra join job
      val updated = labels.select(col("id"), col("comp"), col("comp").as("prev"))
        .unionByName(viaNeighbor.withColumn("prev", lit(Long.MaxValue)))
        .unionByName(viaLabel.withColumn("prev", lit(Long.MaxValue)))
        .groupBy("id").agg(min("comp").as("comp"), min("prev").as("prev"))
        .localCheckpoint()
      converged = updated.filter(col("comp") =!= col("prev")).isEmpty
      labels = updated.drop("prev")
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds")
    labels
  }

  /** Quality-aware dup-group resolution (the RefinedWeb-style retention
    * policy): given verified near-dup pairs and a per-doc quality score,
    * keep the argmax-`scoreCol` member of each duplicate cluster — ties
    * broken toward the smallest id — instead of blindly keeping the
    * smallest id. Returns the surviving rows of `docs` unchanged.
    *
    * Scale shape: only cluster MEMBERS (rows that appear in a verified
    * pair — a small fraction of the corpus after exact dedup) ever reach
    * the per-component window; every other row passes through an anti-join
    * against the member-id set. Both joins key on `idCol`, so AQE
    * broadcasts the component table when it is small and otherwise the two
    * shuffles share one exchange of `docs`; the window itself shuffles only
    * the members. */
  def keepBestPerComponent(docs: DataFrame, idCol: String, scoreCol: String,
                           pairs: DataFrame): DataFrame = {
    // reserved names keep this safe when the caller's idCol is literally
    // "id" (an unqualified drop("id") would remove BOTH columns)
    val comps = connectedComponents(pairs) // (id, comp) — dup members only
      .select(col("id").as("__cc_id"), col("comp").as("__cc_comp"))
    val members = docs.join(comps, docs(idCol) === col("__cc_id"), "inner")
      .drop("__cc_id")
    val w = Window.partitionBy("__cc_comp")
      .orderBy(col(scoreCol).desc, col(idCol).asc)
    val best = members.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn", "__cc_comp")
    val singles = docs.join(comps.select("__cc_id"),
      docs(idCol) === col("__cc_id"), "left_anti")
    singles.unionByName(best)
  }

  /** SimHash-64: per token-hash bit voting — near-identical docs land on
    * digests within small Hamming distance. Computed by the one-pass
    * [[graft.functions.SimHashFunctions.simHash60]] kernel: SimHash is a pure
    * per-document function, so no token ever shuffles (the declarative
    * explode + 60-column vote aggregation it replaced moved every token
    * hash through an exchange; DedupSpec pins the value identity). A doc
    * with NULL text yields no row, exactly like the explode form. */
  def simhash64(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.where(col(textCol).isNotNull)
      .select(col(idCol).cast("long").as("id"),
        // coalesce never fires (nulls are filtered above) — it only pins the
        // column non-nullable, matching the aggregate form's output schema
        coalesce(graft.functions.SimHashFunctions.simhash60(col(textCol)),
          lit(0L)).as("simhash"))

  /** The explode/groupBy formulation [[simhash64]] replaced — kept for the
    * DedupSpec value-identity pin (it IS the specification of the bit
    * votes; the SQL oracle mirrors this shape). */
  private[graft] def simhash64Declarative(df: DataFrame, idCol: String,
                                          textCol: String): DataFrame = {
    val th = df.select(col(idCol).cast("long").as("id"),
        explode(TF.tokensLower(col(textCol))).as("tok"))
      .select(col("id"), TF.hash60(col("tok")).as("h"))
    // votes: for bit b, +1 if set else -1  →  sum>0 ⇒ bit b of simhash set
    val bitCols = (0 until 60).map { b =>
      sum(when(((col("h").bitwiseAND(lit(1L << b))) =!= 0L), 1).otherwise(-1)).as(s"b$b")
    }
    th.groupBy("id").agg(bitCols.head, bitCols.tail: _*)
      .select(col("id"),
        (0 until 60).map(b => when(col(s"b$b") > 0, lit(1L << b)).otherwise(0L))
          .reduce((a, b) => a.bitwiseOR(b)).as("simhash"))
  }
}
