package graft

import graft.operators.{Dedup, Similarity}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Probabilistic operators validated against their exact counterparts
  * on the deterministic sf0.001 corpus. */
class DedupSimilaritySpec extends SparkTestBase {

  private lazy val docs = Tables.t(spark, sf, "documents")
  private lazy val emb = Tables.t(spark, sf, "embeddings")
    .withColumn("e", col("embedding").cast(ArrayType(DoubleType)))

  test("minhash+LSH near-dups equal the exact all-pairs Jaccard result") {
    val exact = Queries.queries("dedup_jaccard_pairs")(spark, sf)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashNearDups(docs, "doc_id", "text")
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(exact), "LSH+verify must never emit a false positive")
    // recall: banding at k=128/b=32 misses < 0.1% at s >= 0.7
    assert(lsh == exact, s"missed pairs: ${exact -- lsh}")
  }

  test("prefix-filtered join equals the exact all-pairs Jaccard result (no recall caveat)") {
    val exact = Queries.queries("dedup_jaccard_pairs")(spark, sf)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pf = Dedup.prefixFilterNearDups(docs, "doc_id", "text")
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pf == exact, s"prefix filter must be lossless: missed=${exact -- pf} extra=${pf -- exact}")
  }

  test("prefix filter: candidate fan-out is bounded below the all-pairs join") {
    // the stop-shingle that dominates the quadratic join must not
    // dominate the prefix join: with every doc sharing one frequent
    // shingle and only true near-dups sharing rare ones, candidates
    // stay near the true pair count instead of n^2/2
    import spark.implicits._
    val n = 40
    val corpus = ((1 to n).map { i =>
      (i.toLong, s"common filler words here unique$i token$i tail$i extra$i")
    } :+ (100L, "common filler words here unique1 token1 tail1 extra1"))
      .toDF("doc_id", "text")
    val pairs = Dedup.prefixFilterNearDups(corpus, "doc_id", "text")
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 100L)))
  }

  test("grid-blocked exact cosine join equals the quadratic form at several thresholds") {
    import graft.operators.Similarity
    val base = emb.select(col("vec_id").as("id"), col("e"))
    def quadratic(t: Double) = {
      val a = base.select(col("id").as("id_a"), col("e").as("va"))
      val b = base.select(col("id").as("id_b"), col("e").as("vb"))
      a.join(b, col("id_a") < col("id_b"))
        .withColumn("cs", Similarity.cosine(col("va"), col("vb")))
        .filter(col("cs") >= t).select("id_a", "id_b")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    // 0.4 catches many pairs (negative-coordinate bins exercised);
    // 0.95 catches none on this corpus — both must match exactly
    for (t <- Seq(0.4, 0.95); d <- Seq(1, 2)) {
      val blocked = Similarity.exactBlockedNearDups(base, "id", "e", t, blockDims = d)
        .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val exact = quadratic(t)
      assert(blocked == exact,
        s"t=$t d=$d: missed=${exact -- blocked} extra=${blocked -- exact}")
    }
  }

  test("documents shorter than the shingle width yield empty shingle sets, not errors") {
    import spark.implicits._
    val corpus = Seq(
      (1L, ""), (2L, "one"), (3L, "two words"),
      (4L, "exactly three words here to dedup"),
      (5L, "exactly three words here to dedup")).toDF("doc_id", "text")
    // would previously throw INVALID_ARRAY_INDEX inside sequence(1,0)
    val pairs = Dedup.minhashNearDups(corpus, "doc_id", "text").collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((4L, 5L)))
    // exploded oracle path: short docs contribute zero rows
    assert(Dedup.shingles(corpus, "doc_id", "text")
      .filter(col("doc_id") < 3).count() == 0)
  }

  /** The two `clusters` paths: `clusters` itself, which labels these
    * small graphs on the driver, and its distributed loop, which runs
    * at any size. */
  private val clusterPaths: Seq[(String, DataFrame => DataFrame)] =
    Seq("driver" -> (p => Dedup.clusters(p)),
      "loop" -> (p => Dedup.clustersLoop(Dedup.symmetricEdges(p))))

  test("clusters: transitive chains collapse to one min-labeled component") {
    import spark.implicits._
    // a~b, b~c (no direct a~c edge) plus an isolated pair: {1,2,3} and {10,11}
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
    for ((path, cluster) <- clusterPaths) {
      val got = cluster(pairs).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L), path)
    }
  }

  test("clusters: long path converges (diameter > 2) and singleton edges keep both ends") {
    import spark.implicits._
    // path 1-2-3-4-5-6: min label must walk the whole diameter
    val path = (1L to 5L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    for ((name, cluster) <- clusterPaths) {
      val got = cluster(path).collect().map(r => r.getLong(1)).distinct
      assert(got.toSeq == Seq(1L), name)
    }
  }

  test("canonical keep = corpus minus non-min cluster members (count identity)") {
    val pairs = Dedup.minhashNearDups(docs, "doc_id", "text")
    val kept = Queries.queries("dedup_keep_canonical")(spark, sf).count()
    for ((path, cluster) <- clusterPaths) {
      val cl = cluster(pairs)
      val losers = cl.filter(col("node") =!= col("cluster_id")).count()
      assert(kept == docs.count() - losers, path)
      // every cluster keeps exactly one member: n_clusters = kept-in-pairs docs
      val nClusters = cl.select("cluster_id").distinct().count()
      assert(nClusters == cl.count() - losers, path)
      graft.operators.Checkpoints.free(cl)
    }
  }

  test("clusters: the driver union-find equals the distributed loop (rows and schema)") {
    import spark.implicits._
    val rnd = new scala.util.Random(20261018L)
    def ids(n: Int): Seq[Long] = rnd.shuffle((1 to n).map(_ * 7L + rnd.nextInt(5)).distinct)
    // a chain over shuffled ids: diameter n - 1, min label far from the ends
    def chain(n: Int): Seq[(Long, Long)] = { val v = ids(n); v.zip(v.tail) }
    // stars around random hubs, two of them bridged by one edge
    def stars: Seq[(Long, Long)] = {
      val v = ids(40)
      val hubs = v.take(4)
      val spokes = v.drop(4).zipWithIndex.map { case (x, i) => (hubs(i % 4), x) }
      spokes :+ (v(10), v(11))
    }
    // duplicate, reversed and self edges over a few components
    def noisy: Seq[(Long, Long)] = {
      val v = ids(30)
      val base = (0 until 40).map(_ => (v(rnd.nextInt(30)), v(rnd.nextInt(30))))
      base ++ base.take(10) ++ base.take(10).map(_.swap) ++ v.take(5).map(x => (x, x))
    }
    val nonNull = Seq("chains" -> (chain(12) ++ chain(9)), "stars" -> stars,
      "noisy" -> noisy, "empty" -> Seq.empty[(Long, Long)])
    val graphs = nonNull.map { case (n, es) => n -> es.toDF("doc_a", "doc_b") } ++
      Seq("null ids" -> (noisy.map { case (a, b) => (Option(a), Option(b)) } ++
        Seq((None, Some(3L)), (Some(3L), None), (Some(4L), Some(3L)), (None, None)))
        .toDF("doc_a", "doc_b"))
    for ((name, pairs) <- graphs) {
      def run(cluster: DataFrame => DataFrame) = {
        val cl = cluster(pairs)
        val rows = cl.collect().toSeq.map(r =>
          (Option(r.get(0)).map(_.asInstanceOf[Long]), Option(r.get(1)).map(_.asInstanceOf[Long])))
        // the loop's result is a checkpoint; the driver's a local relation
        val checkpointed = cl.queryExecution.analyzed.collectFirst {
          case lr: org.apache.spark.sql.execution.LogicalRDD => lr
        }.nonEmpty
        graft.operators.Checkpoints.free(cl)
        (cl.schema, rows.sortBy(_.toString), checkpointed)
      }
      val Seq(driver, loop) = clusterPaths.map { case (_, cluster) => run(cluster) }
      assert(!driver._3 && loop._3, s"$name: both paths must run")
      assert(driver._1 === loop._1, s"$name: schema")
      assert(driver._2 === loop._2, s"$name: rows")
    }
  }

  test("incremental fresh-vs-corpus pairs match the batch result restricted to the split") {
    val fresh = docs.filter(col("doc_id") % 10 === 0)
    val corpus = docs.filter(col("doc_id") % 10 =!= 0)
    val inc = Dedup.incrementalNearDups(corpus, fresh, "doc_id", "text")
      .select("corpus_id", "fresh_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // batch ground truth over the full corpus, restricted to cross-set pairs
    val batch = Dedup.minhashNearDups(docs, "doc_id", "text")
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1)))
      .flatMap { case (a, b) =>
        (a % 10, b % 10) match {
          case (0, x) if x != 0 => Some((b, a)) // corpus_id first
          case (x, 0) if x != 0 => Some((a, b))
          case _ => None
        }
      }.toSet
    assert(inc == batch)
  }

  test("simhash: identical texts collide at hamming 0; finder reports them") {
    // The corpus has no byte-identical texts — plant copies of 5 docs
    // under new ids and require the finder to surface exactly them.
    val planted = docs.filter(col("doc_id") < 5)
      .withColumn("doc_id", col("doc_id") + 1000000L)
    val corpus = docs.unionByName(planted)
    val fps = Dedup.simhash(corpus, "doc_id", "text")
    val pairs = Dedup.simhashNearDups(fps, "doc_id")
      .filter(col("hamming") === 0)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    (0L until 5L).foreach { i =>
      assert(pairs.contains((i, i + 1000000L)), s"planted dup $i not found")
    }
  }

  test("md5 simhash: banded pairing equals the brute-force all-pairs hamming join") {
    // Pigeonhole completeness of the 4x16-bit chunk cover, pinned
    // independently of the DuckDB oracle: the banded join must equal
    // the quadratic all-pairs join over the same fingerprints.
    val fps = Dedup.simhashMd5(docs, "doc_id", "text")
    val banded = Dedup.simhashMd5NearDups(fps, "doc_id")
      .select("doc_a", "doc_b", "hamming").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val a = fps.select(col("doc_id").as("doc_a"), col("fp_hi").as("ha"), col("fp_lo").as("la"))
    val b = fps.select(col("doc_id").as("doc_b"), col("fp_hi").as("hb"), col("fp_lo").as("lb"))
    val brute = a.crossJoin(broadcast(b)).filter(col("doc_a") < col("doc_b"))
      .withColumn("hamming",
        expr("CAST(bit_count(ha ^ hb) + bit_count(la ^ lb) AS BIGINT)"))
      .filter(col("hamming") <= 3)
      .select("doc_a", "doc_b", "hamming").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(banded == brute,
      s"missed=${brute -- banded} extra=${banded -- brute}")
    assert(brute.nonEmpty, "fixture must contain at least one near-dup pair")
  }

  test("ANN top-k recall vs brute force") {
    val probe = emb.filter(col("vec_id") === 0).select(col("e").as("probe_e"))
    val corpus = emb.filter(col("vec_id") =!= 0)
    val exact = Similarity.bruteForceTopK(corpus, probe, "e", 10)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val ann = Similarity.annTopK(corpus, probe, "e", dim = 64, k = 10)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val recall = (exact intersect ann).size.toDouble / exact.size
    // near-random synthetic vectors are LSH's worst case; on clustered
    // real embeddings recall approaches 1. Bound the worst case:
    assert(recall >= 0.5, s"recall=$recall, ann=$ann, exact=$exact")
  }

  test("IVF top-k: correct cells probed, recall vs brute force") {
    val probe = emb.filter(col("vec_id") === 0).select(col("e").as("probe_e"))
    val corpus = emb.filter(col("vec_id") =!= 0)
    val (assigned, centroids) = Similarity.ivfIndex(corpus, "vec_id", "e", nLists = 8)
    // partition function: every vector in exactly one cell
    assert(assigned.count() == corpus.count())
    assert(assigned.groupBy("vec_id").count().filter(col("count") > 1).count() == 0)
    val exact = Similarity.bruteForceTopK(corpus, probe, "e", 10)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val ivf = Similarity.ivfTopK(assigned, centroids, probe, "e", k = 10, nProbe = 4)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val recall = (exact intersect ivf).size.toDouble / exact.size
    assert(recall >= 0.5, s"ivf recall=$recall")
  }

  test("batchTopK equals per-probe bruteForceTopK for every probe") {
    import graft.operators.Similarity
    val probes = emb.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("probe_id"), col("e").as("probe_e"))
    val batch = Similarity.batchTopK(emb, probes, "e", k = 5)
      .select("probe_id", "rk", "vec_id").collect()
      .groupBy(_.getLong(0))
      .view.mapValues(_.sortBy(_.getInt(1)).map(_.getLong(2)).toSeq).toMap
    val probeIds = probes.select("probe_id").collect().map(_.getLong(0))
    assert(probeIds.nonEmpty && batch.keySet == probeIds.toSet)
    for (pid <- probeIds) {
      val single = Similarity.bruteForceTopK(
          emb.filter(col("vec_id") =!= pid),
          emb.filter(col("vec_id") === pid).select(col("e").as("probe_e")),
          "e", k = 5)
        .select("vec_id").collect().map(_.getLong(0)).toSeq
      assert(batch(pid) == single, s"probe $pid: batch=${batch(pid)} single=$single")
    }
  }

  test("ivfBatchTopK equals per-probe ivfTopK at production nProbe") {
    val probes = emb.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("probe_id"), col("e").as("probe_e"))
    val (assigned, centroids) = Similarity.ivfIndex(emb, "vec_id", "e", nLists = 8)
    val batch = Similarity.ivfBatchTopK(assigned, centroids, probes, "e",
        k = 5, nProbe = 3)
      .select("probe_id", "rk", "vec_id").collect()
      .groupBy(_.getLong(0))
      .view.mapValues(_.sortBy(_.getInt(1)).map(_.getLong(2)).toSeq).toMap
    val probeIds = probes.select("probe_id").collect().map(_.getLong(0))
    assert(probeIds.nonEmpty && batch.keySet == probeIds.toSet)
    for (pid <- probeIds) {
      val single = Similarity.ivfTopK(assigned, centroids,
          emb.filter(col("vec_id") === pid).select(col("e").as("probe_e")),
          "e", k = 5, nProbe = 3)
        .select("vec_id").collect().map(_.getLong(0)).toSeq
      assert(batch(pid) == single, s"probe $pid: batch=${batch(pid)} single=$single")
    }
  }

  test("ivfPqBatchTopK: bit-identical adc_dist and ranking vs per-probe ivfPqTopK") {
    // the join-shaped per-(probe, cell) residual tables must reproduce
    // the single-probe CASE dispatch exactly: (probe−cent)−cw vs
    // cw−(probe−cent) differ only by IEEE negation, squares equal
    val probes = emb.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("probe_id"), col("e").as("probe_e"))
    val (enc, cents, cb) = Similarity.ivfPqIndex(
      emb, "vec_id", "e", dim = 64, nLists = 8, m = 8, k = 16)
    val encCp = enc.localCheckpoint()
    val batch = Similarity.ivfPqBatchTopK(encCp, cents, cb, probes,
        k = 5, nProbe = 3, rerankVecCol = Some("e"))
      .select("probe_id", "vec_id", "adc_dist", "l2_dist").collect()
      .groupBy(_.getLong(0))
      .view.mapValues(_.map(r => (r.getLong(1), r.getDouble(2), r.getDouble(3)))
        .sortBy(_._3).toSeq).toMap
    val probeRows = probes.collect()
    assert(probeRows.nonEmpty && batch.keySet ==
      probeRows.map(_.getLong(0)).toSet)
    probeRows.foreach { r =>
      val pid = r.getLong(0)
      val pv = r.getSeq[Double](1).toArray
      val single = Similarity.ivfPqTopK(encCp, cents, cb, pv,
          k = 5, nProbe = 3, rerankVecCol = Some("e"))
        .select("vec_id", "adc_dist", "l2_dist").collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).sortBy(_._3).toSeq
      assert(batch(pid) == single, s"probe $pid: batch=${batch(pid)} single=$single")
    }
    graft.operators.Checkpoints.free(encCp)
  }

  test("annBucketedBatchTopK equals the bit_count scan form at every r") {
    // the Hamming-ball mask enumeration must reproduce the scan
    // filter's candidate set exactly — same ids, same cosines, at
    // r = 0 (identical signatures only), 1, and 2
    val probes = emb.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("probe_id"), col("e").as("probe_e"))
    for (r <- 0 to 2) {
      val scan = Similarity.annBatchTopK(emb, probes, "e", dim = 64, k = 5,
          nBits = 16, probeHamming = r)
        .select("probe_id", "vec_id", "cos_sim").collect()
        .map(x => (x.getLong(0), x.getLong(1), x.getDouble(2))).toSet
      val bucketed = Similarity.annBucketedBatchTopK(emb, probes, "e", dim = 64,
          k = 5, nBits = 16, probeHamming = r)
        .select("probe_id", "vec_id", "cos_sim").collect()
        .map(x => (x.getLong(0), x.getLong(1), x.getDouble(2))).toSet
      assert(bucketed === scan, s"divergence at r=$r")
    }
  }

  test("mrlBatchTopK: a covering shortlist equals exact top-k, and the " +
    "prefix-table-fed path equals the inline path") {
    import graft.operators.Similarity
    val probes = emb.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("probe_id"), col("e").as("probe_e"))
    def keyed(df: org.apache.spark.sql.DataFrame) =
      df.select("probe_id", "vec_id", "cos_sim").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // covering shortlist (k=6 incl. the self-hit) minus self == exact top-5
    val cover = keyed(Similarity.mrlBatchTopK(emb, probes, "e",
        dPrefix = 32, k = 6, shortlistFactor = 1000000)
      .filter(col("probe_id") =!= col("vec_id")))
    val exact = keyed(Similarity.batchTopK(emb, probes, "e", k = 5))
    assert(cover === exact, "covering-shortlist MRL must equal exact top-k")
    // production knobs: table-fed == inline, bit-identical
    val inline_ = keyed(Similarity.mrlBatchTopK(emb, probes, "e",
      dPrefix = 32, k = 5, shortlistFactor = 8))
    val fed = keyed(Similarity.mrlBatchTopK(emb, probes, "e",
      dPrefix = 32, k = 5, shortlistFactor = 8,
      prefixes = Some(Similarity.prefixTable(emb, "vec_id", "e", 32))))
    assert(fed === inline_)
  }

  test("sq8BatchTopK: a covering shortlist equals exact top-k, and the " +
    "quantized-table-fed path equals the inline path") {
    import graft.operators.Similarity
    val probes = emb.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("probe_id"), col("e").as("probe_e"))
    def keyed(df: org.apache.spark.sql.DataFrame) =
      df.select("probe_id", "vec_id", "cos_sim").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val cover = keyed(Similarity.sq8BatchTopK(emb, probes, "e",
        k = 6, shortlistFactor = 1000000)
      .filter(col("probe_id") =!= col("vec_id")))
    val exact = keyed(Similarity.batchTopK(emb, probes, "e", k = 5))
    assert(cover === exact, "covering-shortlist SQ8 must equal exact top-k")
    val inline_ = keyed(Similarity.sq8BatchTopK(emb, probes, "e",
      k = 5, shortlistFactor = 2))
    val fed = keyed(Similarity.sq8BatchTopK(emb, probes, "e",
      k = 5, shortlistFactor = 2,
      quantized = Some(Similarity.sq8Table(emb, "vec_id", "e"))))
    assert(fed === inline_)
  }

  test("signature-table serving: the table-fed LSH forms equal the inline forms " +
    "and the table appends by projection (append == rebuild)") {
    import graft.operators.Similarity
    val probes = emb.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("probe_id"), col("e").as("probe_e"))
    val sigs = Similarity.signatureTable(emb, "vec_id", "e", dim = 64, nBits = 16)
      .localCheckpoint() // stands in for the persisted parquet
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select("probe_id", "vec_id", "cos_sim").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val scanInline = Similarity.annBatchTopK(emb, probes, "e", dim = 64, k = 5,
      nBits = 16, probeHamming = 3)
    val scanFed = Similarity.annBatchTopK(emb, probes, "e", dim = 64, k = 5,
      nBits = 16, probeHamming = 3, sigs = Some(sigs))
    assert(key(scanFed) === key(scanInline))
    val bInline = Similarity.annBucketedBatchTopK(emb, probes, "e", dim = 64, k = 5,
      nBits = 16, probeHamming = 2)
    val bFed = Similarity.annBucketedBatchTopK(emb, probes, "e", dim = 64, k = 5,
      nBits = 16, probeHamming = 2, sigs = Some(sigs))
    assert(key(bFed) === key(bInline))
    // the map-side append path: per-row-deterministic projection, so
    // building per batch and unioning equals the one-shot rebuild
    val appended = Similarity
      .signatureTable(emb.filter(col("vec_id") % 2 === 0), "vec_id", "e", 64, 16)
      .unionByName(Similarity
        .signatureTable(emb.filter(col("vec_id") % 2 === 1), "vec_id", "e", 64, 16))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(appended === sigs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
    graft.operators.Checkpoints.free(sigs)
  }

  test("precision-ladder projections: append == rebuild per rung, zero-norm " +
    "vectors quantize to NULL, and hammingBatchTopK matches the single-probe form") {
    import graft.operators.Similarity
    val even = emb.filter(col("vec_id") % 2 === 0)
    val odd = emb.filter(col("vec_id") % 2 === 1)
    // every rung is a per-row-deterministic map-side projection, so
    // per-batch build + union equals the one-shot rebuild
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.map {
        case s: Seq[_] => s.toList
        case x => x
      }.toList).toSet
    def pin(build: DataFrame => DataFrame,
            rung: String): Unit =
      assert(rows(build(even).unionByName(build(odd))) === rows(build(emb)),
        s"$rung append must equal rebuild")
    pin(Similarity.prefixTable(_, "vec_id", "e", 32), "prefix")
    pin(Similarity.sq8Table(_, "vec_id", "e"), "sq8")
    pin(Similarity.signBitsTable(_, "vec_id", "e"), "signbits")
    // zero-norm guard (ADVICE r18): no direction to quantize -> NULL q,
    // never a silent NaN -> 0 cast
    import spark.implicits._
    val degenerate = Seq((1L, Seq.fill(64)(0.0)), (2L, 0.25 +: Seq.fill(63)(0.0)))
      .toDF("vec_id", "e")
    val q = Similarity.sq8Table(degenerate, "vec_id", "e")
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getSeq[Byte](1)))
      .toMap
    assert(q(1L) == null, "all-zero vector must land NULL q")
    assert(q(2L) != null && q(2L).head === 127.toByte)
    // the batch Hamming form equals the single-probe form per probe
    val packed = Similarity.signBitsTable(emb, "vec_id", "e").localCheckpoint()
    val probes = packed.filter(col("vec_id").isin(0L, 50L))
      .select(col("vec_id").as("probe_id"), col("lo").as("plo"), col("hi").as("phi"))
    val batch = Similarity.hammingBatchTopK(packed, probes, k = 5, excludeSelf = true)
      .orderBy("probe_id", "rk").collect()
      .groupBy(_.getLong(0))
      .view.mapValues(_.map(r => (r.getLong(1), r.getLong(2))).toSeq).toMap
    Seq(0L, 50L).foreach { p =>
      val probe = packed.filter(col("vec_id") === p)
        .select(col("lo").as("plo"), col("hi").as("phi"))
      val single = Similarity.hammingTopK(packed.filter(col("vec_id") =!= p), probe, 5)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(batch(p) === single, s"probe $p batch/single divergence")
    }
    graft.operators.Checkpoints.free(packed)
  }

  test("batch serving refuses non-integral id columns loudly (heap payload is BIGINT)") {
    import spark.implicits._
    // a string id would cast to NULL payload and silently drop every
    // candidate — the guard must name the fix instead
    val strCorpus = Seq(("a", Seq(1.0, 0.0)), ("b", Seq(0.0, 1.0))).toDF("sid", "e")
    val probes = Seq(("p", Seq(1.0, 0.0))).toDF("probe_id", "probe_e")
    val e = intercept[IllegalArgumentException] {
      graft.operators.Similarity.batchTopK(strCorpus, probes, "e", 1, idCol = "sid")
    }
    assert(e.getMessage.contains("surrogate key"), e.getMessage)
  }

  test("embedding near-dup pairs: every reported pair verified >= threshold") {
    val e2 = emb.withColumnRenamed("vec_id", "vid")
    val pairs = Similarity.embeddingNearDups(e2, "vid", "e", dim = 64, threshold = 0.4)
    val rows = pairs.collect()
    rows.foreach(r => assert(r.getAs[Double]("cos_sim") >= 0.4))
  }

  test("exact dedup keeps min id per text") {
    val d = Dedup.exact(docs, "doc_id", "text")
    assert(d.count() == docs.select("text").distinct().count())
    assert(d.agg(sum(col("n_copies"))).collect()(0).getLong(0) == docs.count())
  }

  test("hardNegatives: k rows per probe, never the probe's own label, " +
    "and each is the true best among label-mismatched vectors") {
    val probes = emb.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("probe_id"), col("label").as("probe_label"),
        col("e").as("probe_e"))
    val hn = Similarity.hardNegatives(emb, probes, "e", k = 3)
      .select("probe_id", "rk", "vec_id", "cos_sim").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    val labels = emb.select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val probeIds = labels.keys.filter(_ % 50 == 0)
    assert(hn.groupBy(_._1).forall(_._2.length == 3))
    assert(probeIds.forall(p => hn.exists(_._1 == p)))
    hn.foreach { case (p, _, v, _) =>
      assert(labels(v) != labels(p), s"probe $p got same-label negative $v")
    }
    // rk=1 must beat the unrestricted top-1 only when that top-1
    // shares the probe's label — i.e. it IS the best mismatched row
    val top1 = hn.filter(_._2 == 1).map(t => t._1 -> t._4).toMap
    val all = Similarity.batchTopK(emb, probes.drop("probe_label"), "e", k = 50)
      .select("probe_id", "vec_id", "cos_sim").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    probeIds.foreach { p =>
      val bestMismatch = all.filter(t => t._1 == p && labels(t._2) != labels(p))
        .map(_._3).max
      assert(top1(p) == bestMismatch,
        s"probe $p: hard-negative top-1 ${top1(p)} != best mismatched $bestMismatch")
    }
  }

  test("duplicatedSpans/exciseSpans/selfRepeatSpans: hand-traced span semantics") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha bravo charlie delta echo foxtrot golf unique1 here now"),
      (2L, "intro words alpha bravo charlie delta echo foxtrot golf tail"),
      (3L, "totally different text with no overlap at all today"),
      (4L, "x y") // shorter than k: dropped from the gram relation
    ).toDF("doc_id", "text")
    // docs 1+2 share the 7-token run alpha..golf -> covered window
    // starts: doc1 pos 1..5, doc2 pos 3..7 -> spans of 5+2=7 tokens
    val spans = graft.operators.Dedup
      .duplicatedSpans(docs, "doc_id", "text", k = 3, minTokens = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(spans === Set((1L, 1L, 7L), (2L, 3L, 7L)))
    // excision drops exactly those tokens; doc 3 passes intact;
    // doc 4 (no grams) passes intact
    val ex = graft.operators.Dedup
      .exciseSpans(docs, "doc_id", "text", k = 3, minTokens = 5)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(ex(1L) === (("unique1 here now", 3L, 7L)))
    assert(ex(2L) === (("intro words tail", 3L, 7L)))
    assert(ex(3L)._2 === 9L && ex(3L)._3 === 0L)
    assert(ex(4L) === (("x y", 2L, 0L)))
    // self-repetition: a 3x-repeated trigram covers every window of
    // its doc -> one maximal span of the whole 9 tokens; the
    // cross-doc operator must NOT fire on it (one doc only)
    val rep = Seq((9L, "a b c a b c a b c")).toDF("doc_id", "text")
    val self = graft.operators.Dedup
      .selfRepeatSpans(rep, "doc_id", "text", k = 3, minTokens = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(self.toSeq === Seq((9L, 1L, 9L)))
    assert(graft.operators.Dedup
      .duplicatedSpans(rep, "doc_id", "text", k = 3, minTokens = 3).count() === 0L)
  }

  test("dupSpansIncremental equals the full-corpus rebuild on batch ids") {
    // the daily-ingest equality pin: probing the persisted gram
    // summary must emit EXACTLY the spans a full corpus+batch rebuild
    // assigns to the batch — on a fixture exercising all three
    // coverage sources (batch↔corpus, batch↔batch, corpus-only dup
    // that must NOT leak into batch spans)
    import spark.implicits._
    val corpus = Seq(
      (1L, "alpha bravo charlie delta echo foxtrot golf one two three"),
      (2L, "shared inside corpus only run here padding words again x"),
      (3L, "shared inside corpus only run here padding words again y"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (100L, "intro alpha bravo charlie delta echo foxtrot golf tail"), // vs corpus 1
      (101L, "fresh pair run lives in batch only here now indeed"),     // vs 102
      (102L, "fresh pair run lives in batch only here now indeed"),
      (103L, "nothing matches anything else anywhere in this feed"))
      .toDF("doc_id", "text")
    val index = graft.operators.Dedup.gramSpanSummary(corpus, "doc_id", "text", k = 3)
    val inc = graft.operators.Dedup
      .dupSpansIncremental(index, batch, "doc_id", "text", k = 3, minTokens = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val full = graft.operators.Dedup
      .duplicatedSpans(corpus.unionByName(batch), "doc_id", "text", k = 3, minTokens = 5)
      .filter(col("doc_id") >= 100L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(inc === full)
    assert(inc.map(_._1) === Set(100L, 101L, 102L), s"got $inc")
  }

  test("dupSpansCharsIncremental equals the full char rebuild on batch ids, " +
    "even against a multi-row-per-gram index") {
    // the char-grain daily-ingest pin (CJK/no-space boilerplate):
    // same equality contract as the word grain, plus the appended-
    // index multiplicity case (two summaries unioned — a gram owned
    // by both corpus halves holds 2 index rows and must not fragment
    // the batch's islands)
    import spark.implicits._
    val corpus = Seq(
      (1L, "xxxxBOILERPLATE-SEGMENT-HERExxxx"),
      (2L, "yyyyBOILERPLATE-SEGMENT-HEREyyyy"),
      (3L, "zzzz-corpus-only-duplicate-zzzz"),
      (4L, "wwww-corpus-only-duplicate-wwww"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (100L, "ppppBOILERPLATE-SEGMENT-HEREpppp"), // covered via the index
      (101L, "qqqq-batch-internal-repeats-qqqq"), // vs 102
      (102L, "rrrr-batch-internal-repeats-rrrr"),
      (103L, "totally unrelated text, no window shared"))
      .toDF("doc_id", "text")
    // appended-summary stand-in: one summary per corpus half — the
    // BOILERPLATE grams appear in BOTH, so the index is multi-row
    val index = graft.operators.Dedup
      .charGramSpanSummary(corpus.filter(col("doc_id") <= 2), "doc_id", "text", k = 12)
      .unionByName(graft.operators.Dedup
        .charGramSpanSummary(corpus, "doc_id", "text", k = 12))
    val inc = graft.operators.Dedup
      .dupSpansCharsIncremental(index, batch, "doc_id", "text", k = 12, minChars = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val full = graft.operators.Dedup
      .duplicatedSpansChars(corpus.unionByName(batch), "doc_id", "text",
        k = 12, minChars = 20)
      .filter(col("doc_id") >= 100L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(inc === full)
    assert(inc.map(_._1) === Set(100L, 101L, 102L), s"got $inc")
  }

  test("clustersIncremental merges standing clusters across a bridging pair") {
    import spark.implicits._
    // standing assignment: {2,4} (cluster 2) and {6,8} (cluster 6)
    val labels = Seq((2L, 2L), (4L, 2L), (6L, 6L), (8L, 6L))
      .toDF("node", "cluster_id")
    // the arriving batch bridges them through a NEW node 1 — the merged
    // component must relabel to the global min (1), and an unrelated
    // new pair forms its own cluster
    val newPairs = Seq((1L, 4L), (1L, 6L), (10L, 12L)).toDF("doc_a", "doc_b")
    val want = Map(1L -> 1L, 2L -> 1L, 4L -> 1L, 6L -> 1L, 8L -> 1L,
      10L -> 10L, 12L -> 10L)
    val out = graft.operators.Dedup.clustersIncremental(labels, newPairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === want)
    // the same star + new edge set through the distributed loop
    val star = labels.select(col("node").as("doc_a"), col("cluster_id").as("doc_b"))
    val loop = Dedup.clustersLoop(Dedup.symmetricEdges(star.unionByName(newPairs)))
    assert(loop.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap === want)
    graft.operators.Checkpoints.free(loop)
  }

  test("bandBucketHistogram predicts the banded join across families") {
    import spark.implicits._
    // 6 exact copies + 2 unique docs: every band holds one 6-doc
    // bucket -> max_bucket = 6 and candidate_pairs >= 15 per band;
    // the prediction upper-bounds the join's DISTINCT pair count
    // (pairs sharing several bands are counted once per band)
    val docs = (0 until 6).map(i => (i.toLong, "the same document text repeated for banding"))
      .union(Seq((10L, "something else entirely here"), (11L, "and a third unrelated body")))
      .toDF("doc_id", "text")
    val bandRows = graft.operators.Dedup
      .signatureBandRows(docs, "doc_id", "text", shingleN = 3, k = 32, bands = 8)
    val hist = graft.operators.Dedup.bandBucketHistogram(bandRows, "band_key")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(hist.length === 8)
    assert(hist.forall(_._3 >= 6L), s"every band must show the 6-copy bucket: ${hist.toSeq}")
    assert(hist.forall(_._4 >= 15L), s"candidate_pairs >= C(6,2) per band: ${hist.toSeq}")
    val trueDistinctPairs = graft.operators.Dedup
      .lshCandidates(graft.operators.Dedup.minhash(
        graft.operators.Dedup.shingles(docs, "doc_id", "text"), "doc_id", k = 32),
        "doc_id", k = 32, bands = 8).count()
    assert(hist.map(_._4).sum >= trueDistinctPairs,
      "per-band pair prediction must upper-bound the distinct join output")
  }

  test("assignToCentroids lands appended vectors exactly where ivfIndex puts them") {
    val corpus = emb.select(col("vec_id"), col("e"))
    val (assigned, cents) = Similarity.ivfIndex(corpus, "vec_id", "e", nLists = 8)
    val expected = assigned.select(col("vec_id"), col("cell").as("want"))
    val got = Similarity.assignToCentroids(corpus, cents, "e")
      .select(col("vec_id"), col("cell"))
    val diff = got.join(expected, "vec_id")
      .filter(col("cell") =!= col("want")).count()
    assert(diff === 0L, s"$diff vectors assigned differently from the index build")
  }

  test("semanticDedup: scaled copies are pruned, canonicals kept, clusters seed-bounded") {
    val base = emb.select(col("vec_id"), col("e"))
    val copies = base.select((col("vec_id") + 100000).as("vec_id"),
      expr("transform(e, x -> x * 2.0d)").as("e"))
    val out = Similarity.semanticDedup(base.union(copies), "vec_id", "e",
      nClusters = 8, threshold = 0.99)
    val rows = out.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(rows.length == base.count() * 2)
    val cluster = rows.map(t => t._1 -> t._2).toMap
    val kept = rows.map(t => t._1 -> t._3).toMap
    // every cluster id is one of the 8 seed ids (the 8 smallest)
    assert(rows.map(_._2).toSet.subsetOf((0L to 7L).toSet))
    // a x2 copy keeps its direction: cosine to its base is 1, so
    // whenever the pair lands in one cell the copy (higher id) is
    // pruned and the base survives that pair
    val sameCell = rows.collect { case (id, c, _) if id < 100000 &&
      cluster.contains(id + 100000) && cluster(id + 100000) == c => id }
    assert(sameCell.nonEmpty, "no co-located base/copy pair — test vacuous")
    sameCell.foreach { id =>
      assert(!kept(id + 100000), s"copy of $id in same cell must be pruned")
    }
    // keeper rule is canonical: base vectors have no lower-id twin
    // except possibly another base at cosine >= .99 — on this corpus
    // (max pair cosine ~0.51) every base row must be kept
    rows.filter(_._1 < 100000).foreach { case (id, _, k) =>
      assert(k, s"base $id should be kept")
    }
  }
}
