package graft.ops

import graft.expressions.{DedupKernelExprs => GKern, VectorKernelExprs => VK}
import graft.functions.{Distance => GDist}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.ArrayType

/** Large-scale deduplication pipelines for training-data curation — the
  * 100 TB-oriented extension layer (builder brief; reference analogues:
  * minhash `daft/functions/misc.py:428`, simhash `misc.py:462`).
  *
  * Scale design notes:
  *  - Every pipeline is expressed as exploded inverted-index joins or
  *    bucket-joins — never an O(n²) cross join. Pair generation only
  *    touches documents sharing a shingle/band/bucket, which is the
  *    standard web-scale dedup shape (one shuffle on the bucket key).
  *  - Signatures (minhash/simhash) are one-pass UDFs over token arrays;
  *    candidate verification recomputes the exact metric only on the
  *    (tiny) candidate set.
  */
object Dedup {

  /** Shared-subtree caches leased by the pair pipelines (the persisted
    * shingle/signature projections). The returned DataFrames are lazy, so
    * the pipelines cannot unpersist eagerly themselves — a long-lived
    * session that runs many pipelines would otherwise accumulate cached
    * blocks indefinitely. Callers should invoke [[releaseCaches]] after
    * materializing a pipeline's result (write/collect); until then the
    * cache keeps candidate verification from re-shingling the corpus. */
  private def lease(df: DataFrame): DataFrame = Caches.lease(df)

  /** Unpersist every cache leased by prior pipeline calls (non-blocking).
    * Safe to call at any time: an unpersisted frame recomputes. */
  def releaseCaches(): Unit = Caches.releaseAll()

  /** Word n-gram shingles of a text column (distinct, nulls filtered). */
  def shingles(text: Column, n: Int): Column = {
    val toks = split(text, " ")
    filter(
      array_distinct(transform(
        sequence(lit(0), greatest(size(toks) - n, lit(0)).cast("int")),
        i => when(i + n <= size(toks), array_join(slice(toks, i + 1, lit(n)), " ")))),
      x => x.isNotNull)
  }

  /** Benchmark decontamination (the training-data hygiene companion to
    * dedup, cf. GPT-3/Llama data cards: drop any training document that
    * shares an n-gram — canonically a 13-gram — with an evaluation set).
    *
    * Scale shape (same contract as [[graft.ops.Prune]]): the eval set is
    * tiny next to the corpus, so its distinct hashed n-grams are
    * collected into one broadcast Set (benchmarks are ~10k docs → a few
    * million longs, tens of MB); every corpus document then streams
    * through a map-side membership probe — the corpus is never shuffled,
    * never exploded, never self-joined, and drops rows at the scan.
    * Grams are xxhash64'd so the broadcast moves 8-byte longs, not
    * 13-word strings. Texts are normalized (lowercase, collapsed
    * whitespace) so formatting differences don't mask contamination.
    * Exact set membership, not a Bloom filter, because a false positive
    * silently deletes clean training documents — the only residual FP
    * source is a 64-bit gram-hash collision (~n²/2⁶⁵, negligible at any
    * eval-set size). Returns surviving rows.
    *
    * Broadcast bound: the collected set costs ~8 bytes/gram on the driver
    * and each executor — `maxBroadcastGrams` (default 50M ≈ 400 MB)
    * caps it. An eval set past the cap (e.g. someone "decontaminates"
    * against a second corpus rather than a benchmark) switches to the
    * shuffled path: explode corpus grams → semi-join the eval grams →
    * anti-join contaminated doc ids back. That shuffles the corpus grams
    * once (unavoidable without a bounded build side) but holds no
    * driver/executor-resident set, so it scales to any eval size. */
  def decontaminate(
      corpus: DataFrame,
      textCol: String,
      evalSet: DataFrame,
      evalTextCol: String,
      n: Int = 13,
      maxBroadcastGrams: Long = 50000000L): DataFrame = {
    def norm(c: Column) =
      trim(regexp_replace(lower(c), "\\s+", " "))
    def gramHashes(c: Column) =
      transform(shingles(norm(c), n), g => xxhash64(g))
    val evalG = evalSet
      .select(explode(gramHashes(col(evalTextCol))).as("__g"))
      .distinct()
    // count() reuses the same distinct shuffle the join path needs and is
    // a cheap partial-agg pass next to collecting the set itself
    if (evalG.count() <= maxBroadcastGrams) {
      val evalGrams: Array[Long] = evalG.collect().map(_.getLong(0))
      val bc = corpus.sparkSession.sparkContext.broadcast(evalGrams.toSet)
      val clean = udf { grams: Seq[Long] =>
        val s = bc.value
        grams == null || !grams.exists(s.contains)
      }
      corpus.filter(clean(gramHashes(col(textCol))))
    } else {
      // Doc identity for the round trip: ids are assigned BEFORE any
      // shuffle, so re-execution of the deterministic scan on both sides
      // of the anti-join yields identical ids.
      val keyed = corpus.withColumn("__graft_did", monotonically_increasing_id())
      val contaminated = keyed
        .select(col("__graft_did"), explode(gramHashes(col(textCol))).as("__g"))
        .join(evalG, "__g") // semi by construction: distinct ids next
        .select("__graft_did")
        .distinct()
      keyed.join(contaminated, Seq("__graft_did"), "left_anti")
        .drop("__graft_did")
    }
  }

  /** Corpus-level LINE deduplication (the CCNet/C4 boilerplate-removal
    * step; ref surface: the reference's text-dedup pipeline family,
    * `daft/functions` text ops): drop every line that appears verbatim in
    * at least `minDocFreq` DISTINCT documents (cookie banners, nav menus,
    * subscribe prompts), then reassemble each document from its surviving
    * lines in original order. Documents whose every line is boilerplate
    * disappear (CCNet's behavior).
    *
    * Scale shape: posexplode → per-(line-hash, doc) distinct →
    * count(distinct docs) per hash is two shuffled aggs with map-side
    * combine, all on 8-byte xxhash64 keys (the shuffle never carries line
    * text twice); the frequent set is proportional to BOILERPLATE lines,
    * not corpus size, so AQE broadcasts the anti-join side when small;
    * reassembly is one groupBy over surviving lines. No driver-side
    * state. 64-bit hash collisions (~n²/2⁶⁵) could at worst drop an
    * innocent line alongside a hot one. Returns (idCol, textCol). */
  def dedupLines(docs: DataFrame, idCol: String, textCol: String,
      minDocFreq: Long): DataFrame = {
    val lines = docs.select(col(idCol),
      posexplode(split(col(textCol), "\n")).as(Seq("__i", "__ln")))
    val hot = lines.select(xxhash64(col("__ln")).as("__h"), col(idCol))
      .distinct()
      .groupBy("__h").agg(count(lit(1)).as("__df"))
      .filter(col("__df") >= minDocFreq)
      .select("__h")
    lines.join(hot, xxhash64(col("__ln")) === hot("__h"), "left_anti")
      .groupBy(col(idCol))
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("__i"), col("__ln")))),
          x => x.getField("__ln")), "\n").as(textCol))
  }

  /** Corpus-level EXACT SUBSTRING deduplication (the suffix-array dedup of
    * Lee et al. 2022, "Deduplicating Training Data Makes Language Models
    * Better", re-expressed relationally; ref surface: the reference's
    * text-dedup family, `daft/functions` text ops): any token run of
    * `windowTokens` length whose verbatim text occurs at least `minCount`
    * times across the corpus (including twice in one document) is removed
    * from every document containing it. Overlapping duplicated windows
    * merge naturally (their covered-position sets union), so a long
    * duplicated passage is excised in one piece, matching the
    * suffix-array semantics for runs ≥ windowTokens. Documents reduced to
    * nothing disappear (the paper drops them); untouched documents keep
    * their text verbatim.
    *
    * Scale shape (the suffix array is inherently single-node; this is the
    * distributed equivalent): window hashes are 8-byte xxhash64 keys —
    * the duplicate-window count is one shuffled agg with map-side combine
    * that never carries window text; token-level rework is then confined
    * to AFFECTED documents only (everything else passes through with no
    * token shuffle), and the covered-position expansion is proportional
    * to DUPLICATED content, not corpus size. No driver-side state; a
    * 64-bit collision (~n²/2⁶⁵) could at worst remove one innocent
    * window. Returns (idCol, textCol).
    *
    * Caching contract: the affected-doc-id subtree is [[Caches.lease]]d
    * (it feeds two branches of the returned plan). Library callers must
    * call [[releaseCaches]] (or `Caches.releaseAll()`) after
    * materializing the result, or the cached frame stays persisted for
    * the life of the session — the Verify/Bench harness loops
    * already do. A missed release costs memory, never correctness. */
  def dedupSubstrings(docs: DataFrame, idCol: String, textCol: String,
      windowTokens: Int, minCount: Long = 2): DataFrame = {
    val W = windowTokens
    val toks = docs.select(col(idCol), split(col(textCol), " ").as("__t"))
    // all W-token windows, hashed: (doc, start-pos, hash). Docs shorter
    // than W contribute none (sequence guard — its bounds must not run
    // backwards).
    val wins = toks
      .select(col(idCol), posexplode(
        when(size(col("__t")) >= W,
          transform(sequence(lit(0), size(col("__t")) - W),
            i => xxhash64(concat_ws(" ", slice(col("__t"), i + 1, lit(W))))))
          .otherwise(array())).as(Seq("__p", "__h")))
    // duplicated window hashes: plain count (NOT distinct docs — a window
    // repeated twice inside one document is a duplicate too, per the
    // paper). Near-distinct keys: map-side combine collapses the hot
    // tail, the unique majority passes through once.
    val dup = wins.groupBy("__h").agg(count(lit(1)).as("__c"))
      .filter(col("__c") >= minCount).select("__h")
    val dupWins = wins.join(dup, Seq("__h")).select(col(idCol), col("__p"))
    val affected = lease(dupWins.select(col(idCol)).distinct())
    // token positions covered by some duplicated window — expansion is
    // W rows per duplicated window, bounded by duplicated content size
    val covered = dupWins
      .select(col(idCol), explode(sequence(col("__p"), col("__p") + W - 1)).as("__j"))
      .distinct()
    // token-level rebuild only for affected docs; untouched docs keep
    // their bytes verbatim (no token shuffle, no whitespace rewrite)
    val rebuilt = toks.join(affected, Seq(idCol))
      .select(col(idCol), posexplode(col("__t")).as(Seq("__j", "__tok")))
      .join(covered, Seq(idCol, "__j"), "left_anti")
      .groupBy(col(idCol))
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("__j"), col("__tok")))),
          x => x.getField("__tok")), " ").as(textCol))
    docs.select(col(idCol), col(textCol))
      .join(affected, Seq(idCol), "left_anti")
      .unionByName(rebuilt)
  }

  /** Exact dedup: keep the first row (min of `keepBy`) per duplicate group
    * — plain hash groupBy, fully distributed. */
  def exact(df: DataFrame, dupCols: Seq[String], keepBy: String): DataFrame = {
    val w = Window
      .partitionBy(dupCols.map(col): _*).orderBy(col(keepBy).asc)
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** Exact pairwise n-gram Jaccard via inverted index: explode shingles,
    * self-join on shingle, count common shingles per pair, compute
    * |A∩B| / (|A|+|B|-|A∩B|). Only pairs sharing ≥1 shingle are
    * materialized (pairs below that have jaccard 0).
    *
    * `maxShingleDf` is the hot-key guard the self-join needs at corpus
    * scale: a shingle shared by d documents alone creates O(d²) candidate
    * pairs — one boilerplate phrase common to 1M docs would create 10¹²
    * pairs. With a cap, shingles whose document frequency exceeds it are
    * dropped from CANDIDATE GENERATION only (they are non-discriminative
    * stopword phrases) and every surviving candidate pair is verified
    * exactly on its full shingle sets — reported jaccard values stay
    * exact; only pairs whose EVERY common shingle is hotter than the cap
    * are missed. That bounds the join blowup at O(#shingles · cap²). */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
      n: Int, threshold: Double, maxShingleDf: Option[Long] = None): DataFrame = {
    // hashed shingles: one O(tokens) kernel pass per doc, and the
    // inverted-index shuffle moves 8-byte keys instead of n-gram strings
    // (jaccard is a function of distinct-set sizes only, so values are
    // unchanged; 64-bit in-doc collisions are ~n²/2⁶⁵). Persisted: both
    // self-join branches and the df-cap aggregation reuse it.
    val withSh = lease(docs.select(col(idCol).as("id"),
        GKern.hashedShingles(col(textCol), n).as("sh"))
      .withColumn("n_sh", size(col("sh")))
      .filter(col("n_sh") > 0))
    val inv = withSh.select(col("id"), col("n_sh"), explode(col("sh")).as("shingle"))
    maxShingleDf match {
      case None =>
        val a = inv.select(col("id").as("doc_a"), col("n_sh").as("na"), col("shingle"))
        val b = inv.select(col("id").as("doc_b"), col("n_sh").as("nb"), col("shingle"))
        a.join(b, Seq("shingle"))
          .filter(col("doc_a") < col("doc_b"))
          .groupBy("doc_a", "doc_b", "na", "nb")
          .agg(count(lit(1)).as("common"))
          .withColumn("jac", col("common") / (col("na") + col("nb") - col("common")))
          .filter(col("jac") >= threshold)
          .select("doc_a", "doc_b", "jac")
      case Some(cap) =>
        // semi-join keeps only postings of shingles at-or-under the cap;
        // the df aggregation shuffles on the same key as the self-join
        val rare = inv.join(
          inv.groupBy("shingle").agg(count(lit(1)).as("__df"))
            .filter(col("__df") <= cap).select("shingle"),
          Seq("shingle"), "left_semi")
        val a = rare.select(col("id").as("doc_a"), col("shingle"))
        val b = rare.select(col("id").as("doc_b"), col("shingle"))
        val cand = a.join(b, Seq("shingle"))
          .filter(col("doc_a") < col("doc_b"))
          .select("doc_a", "doc_b").distinct()
        // exact verification on full shingle sets (the minhash pattern:
        // arrays re-attach only to the tiny candidate set)
        val sa = withSh.select(col("id").as("doc_a"), col("sh").as("__sha"), col("n_sh").as("na"))
        val sb = withSh.select(col("id").as("doc_b"), col("sh").as("__shb"), col("n_sh").as("nb"))
        cand.join(sa, Seq("doc_a")).join(sb, Seq("doc_b"))
          .withColumn("common", size(array_intersect(col("__sha"), col("__shb"))))
          .withColumn("jac", col("common") / (col("na") + col("nb") - col("common")))
          .filter(col("jac") >= threshold)
          .select("doc_a", "doc_b", "jac")
    }
  }

  /** 128-bit content key (two independently-seeded 64-bit hashes): false
    * merge needs a simultaneous collision in both — ~n²/2¹²⁸, negligible
    * at any corpus size, where a single 64-bit key would reach ~5% odds of
    * ONE false exact-dup group at n=10⁹ docs.
    *
    * Seed independence (ADVICE r12): Spark's multi-arg xxhash64 CHAINS —
    * `xxhash64(c, lit(1))` hashes lit(1) with the previous result as seed,
    * so a collision on component 1 propagated to component 2 and the real
    * bound was ~n²/2⁶⁵. Putting the constant FIRST (`xxhash64(lit(1), c)`)
    * hashes c under seed XXH64(1, 42) ≠ 42, making the components
    * independent (LshHotBucketSpec pins the expression shape). */
  private[graft] def contentKey(c: Column) =
    struct(xxhash64(c), xxhash64(lit(1), c))

  /** The candidate-and-verify recipe under the three LSH pipelines
    * ([[minhashLshPairs]], [[simhashPairs]], [[embeddingCosineLshPairs]]).
    * A family supplies five things:
    *   - `sign` maps the representatives (`id`, `__val`) to the signature
    *     frame: `id`, the verify payload as `__val`, whatever `buckets`
    *     reads, and only the rows eligible to pair;
    *   - `buckets`, an array over that frame whose position is the band;
    *   - `score` of two payloads, the metric reported for a pair;
    *   - `selfScore` of one payload: the exact metric of a row against an
    *     identical copy (jaccard 1.0, hamming 0, self-cosine — NaN for a
    *     zero vector, which Spark's NaN-is-greatest comparison passes);
    *   - `keep`, the threshold predicate on a score.
    *
    * Hot-bucket guard (VERDICT r11 #4): exact duplicates all share one
    * signature, so d copies of one document put d ids into EVERY band
    * bucket — O(d²·nBands) candidate rows before the distinct (10k planted
    * copies ≈ 10⁹ rows through one shuffle partition). The recipe bands
    * one representative per distinct content (min id) and re-expands:
    * intra-group pairs are emitted directly at `selfScore`, and a
    * representative pair (ra, rb, s) expands to members(ra) × members(rb)
    * at s (identical content ⇒ identical metric). Candidate volume is
    * O(distinct content); the pair set is unchanged. Groups whose
    * representative `sign` drops (empty shingle sets, null vectors)
    * expand to nothing, as they never banded.
    *
    * The payload's data type decides how it reaches verification: an
    * array payload (shingle set, vector) would be copied nBands× through
    * the bucket shuffle, so only ids ride the explode and the payload is
    * re-attached to the distinct candidates; a scalar payload (the 64-bit
    * simhash) is no wider than the bucket key and rides the explode.
    *
    * The group map, the signature frame and the members frame are each
    * computed once and leased: the semi-join, both explode sides, both
    * payload joins and the expansion joins read them. */
  private def lshPairs(docs: DataFrame, idCol: String, valCol: Column,
      aName: String, bName: String, scoreName: String)(
      sign: DataFrame => DataFrame, buckets: Column,
      score: (Column, Column) => Column, selfScore: Column => Column,
      keep: Column => Column): DataFrame = {
    val base = docs.select(col(idCol).as("id"), valCol.as("__val"))
    // the group map: (id, __rep = min id of its content key). Ids only —
    // the lease stays narrow even when __val is a full document or vector.
    val memb = lease(base.select(col("id"), contentKey(col("__val")).as("__h"))
      .withColumn("__rep", min("id").over(Window.partitionBy("__h")))
      .select("id", "__rep"))
    val reps = base.join(memb.filter(col("id") === col("__rep")).select("id"),
      Seq("id"), "left_semi")
    val sigs = lease(sign(reps))
    val carry = !sigs.schema("__val").dataType.isInstanceOf[ArrayType]
    val carried = if (carry) Seq("__val") else Nil
    val banded = sigs.select(
      (col("id") +: carried.map(col)) :+ posexplode(buckets).as(Seq("band", "bucket")): _*)
    def side(id: String, v: String) = banded.select(
      Seq(col("id").as(id), col("band"), col("bucket")) ++ carried.map(col(_).as(v)): _*)
    val candidates = side(aName, "__va").join(side(bName, "__vb"), Seq("band", "bucket"))
      .filter(col(aName) < col(bName))
      .drop("band", "bucket")
      .dropDuplicates(aName, bName)
    def payload(id: String, v: String) = sigs.select(col("id").as(id), col("__val").as(v))
    val withPayload =
      if (carry) candidates
      else candidates.join(payload(aName, "__va"), aName).join(payload(bName, "__vb"), bName)
    val pairs = withPayload
      .withColumn(scoreName, score(col("__va"), col("__vb")))
      .filter(keep(col(scoreName)))
      .select(aName, bName, scoreName)
    // members of eligible groups with the group's self score
    val members = lease(memb.join(
      sigs.select(col("id").as("__rep"), selfScore(col("__val")).as("__self")), Seq("__rep")))
    val cross = pairs
      .join(members.select(col("__rep").as(aName), col("id").as("__xa")), aName)
      .join(members.select(col("__rep").as(bName), col("id").as("__xb")), bName)
      .select(least(col("__xa"), col("__xb")).as(aName),
        greatest(col("__xa"), col("__xb")).as(bName), col(scoreName))
    // within-group pairs: a plain equi-join on the representative — one
    // shuffle, output-proportional work, no band amplification
    val intra = members.filter(keep(col("__self")))
      .select(col("__rep"), col("id").as(aName), col("__self"))
      .join(members.select(col("__rep"), col("id").as(bName)), Seq("__rep"))
      .filter(col(aName) < col(bName))
      .select(col(aName), col(bName), col("__self").as(scoreName))
    cross.unionByName(intra)
  }

  /** MinHash + LSH banding: k-hash signature, band-bucket join for
    * candidates, exact-jaccard verification of candidates. With r=1 the
    * per-band collision probability equals the jaccard itself, so recall at
    * threshold t is 1-(1-t)^k (≈1 for k=64, t≥0.2); verification removes
    * all false positives, making the output equal to the exact pipeline.
    *
    * The signature frame holds each document's hashed, sorted shingle set
    * from ONE O(tokens) kernel pass (a 64-bit collision inside one set is
    * ~n²/2⁶⁵). The band buckets come out of ONE fused kernel call over it:
    * slicing a signature column per band re-evaluates the kernel per band
    * after CollapseProject inlining. Verification is a codegen
    * `array_intersect` over primitive longs, not a Scala UDF, which boxes
    * every element of both arrays per pair (7.0 s vs 1.7 s over the same
    * 495k candidates). */
  def minhashLshPairs(docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int, k: Int, bandRows: Int, threshold: Double): DataFrame =
    lshPairs(docs, idCol, col(textCol), "doc_a", "doc_b", "jac")(
      sign = _.select(col("id"), GKern.hashedShingles(col("__val"), shingleN).as("__val"))
        .filter(size(col("__val")) > 0),
      buckets = GKern.minhashBands(col("__val"), k, bandRows, 1L),
      score = { (a, b) =>
        val common = size(array_intersect(a, b)).cast("double")
        common / (size(a) + size(b) - common)
      },
      selfScore = _ => lit(1.0),
      keep = _ >= threshold)

  /** SimHash near-dup candidates: 64-bit simhash, pigeonhole banding on
    * 16-bit chunks (hamming ≤ 3 ⇒ some chunk equal), then exact hamming
    * verification on candidates. Signatures come from one fused hash
    * kernel per doc (bit-identical to the string form — both vote on
    * stringHash64(gram, 0)); the signature frame holds the 64-bit
    * signature only, which rides the band explode. */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int, maxHamming: Int): DataFrame =
    lshPairs(docs, idCol, col(textCol), "doc_a", "doc_b", "ham")(
      sign = _.select(col("id"), GKern.hashedShingles(col("__val"), shingleN).as("__sh"))
        .filter(size(col("__sh")) > 0)
        .select(col("id"), GKern.simhash64(col("__sh")).as("__val")),
      buckets = array((0 until 4).map(i =>
        shiftrightunsigned(col("__val"), i * 16).bitwiseAND(lit(0xFFFFL))): _*),
      score = (a, b) => bit_count(a.bitwiseXOR(b)),
      selfScore = _ => lit(0),
      keep = _ <= maxHamming)

  /** Embedding cosine near-dup, exact: block-matrix (tiled) self-join.
    *
    * All-pairs compute is inherently O(n²), but the SHAPE matters at scale:
    * a `crossJoin` is a single CartesianProduct whose build side must be
    * replicated to every task with no partition-count control. Tiling maps
    * each row to a block `b = hash(id) % nBlocks` and meets pairs in tile
    * (bi, bj) via a plain equi-join on the tile key: row A(bi) is
    * replicated once per column j as (bi, j), row B(bj) once per row i as
    * (i, bj). Every pair meets in exactly one tile, so the result equals
    * the naive upper-triangle cross join — while the work distributes over
    * nBlocks² independent shuffle partitions with bounded (n/nBlocks)-sized
    * inputs each, the standard exact all-pairs layout on a cluster.
    *
    * At production thresholds prefer [[embeddingCosineLshPairs]] as the
    * blocking stage; this exact form is the in-block verification. A null
    * or zero vector pairs with nothing ([[Similarity.rankable]]). */
  def embeddingCosinePairs(vecs: DataFrame, idCol: String, vecCol: String,
      threshold: Double, nBlocks: Int = 8): DataFrame = {
    val base = vecs.select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("blk", pmod(hash(col("id")), lit(nBlocks)))
    val tiles = sequence(lit(0), lit(nBlocks - 1))
    val a = base
      .withColumn("tile_j", explode(tiles))
      .select(col("id").as("id_a"), col("v").as("va"),
        col("blk").as("tile_i"), col("tile_j"))
    val b = base
      .withColumn("tile_i", explode(tiles))
      .select(col("id").as("id_b"), col("v").as("vb"),
        col("tile_i"), col("blk").as("tile_j"))
    a.join(b, Seq("tile_i", "tile_j"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos_sim", GDist.cosineSimilarityNative(col("va"), col("vb")))
      .filter(Similarity.rankable(col("cos_sim")) && col("cos_sim") >= threshold)
      .select("id_a", "id_b", "cos_sim")
  }

  /** SemDeDup-style semantic dedup (Abbas et al. 2023, arXiv:2303.09540 —
    * public recipe): k-means over L2-normalized embeddings bounds the
    * pairwise search to WITHIN each cluster, where pairs with cosine ≥
    * `threshold` are near-duplicates. Cross-cluster pairs are sacrificed
    * by design — the published approximation that makes web-scale corpora
    * tractable (O(Σ cluster²) instead of O(n²)).
    *
    * Scale shape: centroids broadcast, cell assignment is a map pass
    * (argmin over the centroid table, no crossJoin/window), then ONE
    * shuffle on cell for the intra-cluster equi-join; exact cosine
    * verifies every emitted pair, so precision is 1 — only recall is
    * approximate. A null or zero vector pairs with nothing
    * ([[Similarity.rankable]]). Returns (id_a, id_b, cos_sim), id_a < id_b. */
  def semanticDedupPairs(vecs: DataFrame, idCol: String, vecCol: String,
      threshold: Double, nClusters: Int, seed: Long = 42L): DataFrame = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val train = Similarity.unitVectors(vecs, vecCol)
      .select(array_to_vector(col("nv")).as("features"))
    val model = new KMeans().setK(nClusters).setSeed(seed).setMaxIter(10).fit(train)
    val cents = model.clusterCenters.map(_.toArray)
    val bc = vecs.sparkSession.sparkContext.broadcast(cents)
    val withCell = vecs
      .select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("cell", VK.nearestCells(col("v"), bc, 1)(0))
    val a = withCell.select(col("id").as("id_a"), col("v").as("va"), col("cell"))
    val b = withCell.select(col("id").as("id_b"), col("v").as("vb"), col("cell"))
    a.join(b, Seq("cell"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos_sim", GDist.cosineSimilarityNative(col("va"), col("vb")))
      .filter(Similarity.rankable(col("cos_sim")) && col("cos_sim") >= threshold)
      .select("id_a", "id_b", "cos_sim")
  }

  /** Embedding cosine near-dup, blocked: random-hyperplane LSH
    * (sign-pattern banding over `k` fixed Gaussian hyperplanes) generates
    * candidates via a bucket equi-join, then exact cosine verifies — the
    * production path for high-threshold near-dup at corpus scale (ref
    * pattern: simhash banding, `daft/functions/misc.py:462`).
    *
    * A pair agreeing on every hyperplane sign in some band collides there;
    * for duplicates (cosine ≈ 1) all sign patterns agree, so recall is 1
    * for exact/same-direction dups and 1-(1-p^r)^B for near-dups with
    * per-plane agreement p = 1 - θ/π. Null vectors never pair: they have
    * no sign pattern, and the hyperplanes take their dimension from the
    * first non-null vector (a frame without one returns no pairs). */
  def embeddingCosineLshPairs(vecs: DataFrame, idCol: String, vecCol: String,
      threshold: Double, k: Int = 32, bandRows: Int = 8, seed: Long = 7L): DataFrame = {
    val dim = Similarity.vectorDim(vecs, vecCol).getOrElse(0)
    val rnd = new scala.util.Random(seed)
    val bcPlanes = vecs.sparkSession.sparkContext.broadcast(
      Array.fill(k, dim)(rnd.nextGaussian()))
    val mask = (1L << bandRows) - 1
    lshPairs(vecs, idCol, col(vecCol), "id_a", "id_b", "cos_sim")(
      sign = _.filter(col("__val").isNotNull)
        .withColumn("__sig", VK.signBits(col("__val"), bcPlanes)),
      buckets = array((0 until k / bandRows).map(b =>
        shiftrightunsigned(col("__sig"), b * bandRows).bitwiseAND(lit(mask))): _*),
      score = GDist.cosineSimilarityNative,
      selfScore = v => GDist.cosineSimilarityNative(v, v),
      keep = _ >= threshold)
  }

  /** Duplicate-cluster assignment: connected components over candidate
    * pairs (the capstone of every pair-generating pipeline above — near-dup
    * relations are not transitive, so "keep one per group" needs the
    * transitive closure of the candidate graph).
    *
    * Iterative min-label propagation with pointer jumping: every node
    * starts labeled with its own id; each superstep every node takes the
    * min of its label and its neighbors' labels, then chases one extra
    * hop (label ← label(label), path-halving), so convergence is
    * O(log diameter) supersteps rather than O(diameter) — 2^20-diameter
    * graphs converge inside the default iteration cap. Each superstep is
    * three key-partitioned shuffles; the driver reads ONE scalar
    * (changed-label count) per superstep; labels are localCheckpoint'd
    * each round so lineage stays O(1) instead of growing per iteration.
    *
    * Output: (member, cluster) where cluster = min id in the component;
    * every node appearing in any pair is assigned. A graph whose labels
    * still change in round `maxIter` throws instead: those labels are not
    * components yet. */
  def clusters(pairs: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 20): DataFrame = {
    require(maxIter > 0, s"Dedup.clusters: maxIter must be positive, got $maxIter")
    val edges = pairs
      .select(col(aCol).cast("long").as("src"), col(bCol).cast("long").as("dst"))
    // undirected: propagate along both directions
    val adj = edges.union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .localCheckpoint(true)
    var labels = adj.select(col("src").as("id")).distinct()
      .withColumn("label", col("id"))
      .localCheckpoint(true)
    var iter = 0
    var changed = 1L
    while (changed > 0 && iter < maxIter) {
      val nbrLabels = adj
        .join(labels.select(col("id").as("dst"), col("label")), "dst")
        .select(col("src").as("id"), col("label"))
      val propagated = labels.union(nbrLabels)
        .groupBy("id").agg(min("label").as("label"))
      // pointer jump: a label is itself a node id, so label(label(x)) is
      // one hop closer to the component min — path-halving
      val next = propagated
        .join(propagated.select(col("id").as("__lid"), col("label").as("__llabel")),
          propagated("label") === col("__lid"))
        .select(col("id"), least(col("label"), col("__llabel")).as("label"))
        .localCheckpoint(true)
      changed = next.join(labels.select(col("id"), col("label").as("old")), "id")
        .filter(col("label") =!= col("old"))
        .count()
      labels = next
      iter += 1
    }
    if (changed > 0) {
      adj.unpersist()
      throw new IllegalStateException(s"Dedup.clusters did not converge: $changed labels " +
        s"still changed in the last of maxIter = $maxIter rounds")
    }
    // superseded per-iteration checkpoints are reclaimed by Spark's
    // ContextCleaner once their DataFrames go out of scope; materialize
    // the final labels so the caller no longer depends on `adj`
    val out = labels.select(col("id").as("member"), col("label").as("cluster"))
      .localCheckpoint(true)
    adj.unpersist()
    out
  }
}
