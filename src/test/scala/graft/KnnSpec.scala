package graft

import org.apache.spark.sql.functions._

import graft.operators.{Knn, Similarity}
import graft.sources.GeoFixtures

class KnnSpec extends SparkTestBase {

  test("kNN expansion rounds are action-frugal (fused done-key derivation)") {
    import spark.implicits._
    // two controlled workloads whose ROUND COUNTS are known by construction
    // (indexRes=7 -> minDim = 180/128 = 1.40625 deg):
    //  - near: feature on top of the point -> resolves at n=1 (1 round)
    //  - far:  feature 20 deg away -> needs disk(16) AND 20 < 16*minDim,
    //          so rounds n=1,2,4,8,16 (5 rounds)
    // the per-round Spark-job slope must stay small: the round-2 loop spent
    // an isEmpty action + a re-checkpoint of the GROWING accumulator per
    // round; the fused loop runs a bounded set of per-round jobs.
    def countJobs(body: => Unit): Int = {
      val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
      val l = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs.incrementAndGet()
      }
      spark.sparkContext.addSparkListener(l)
      try {
        body
        org.apache.spark.GraftBusBridge.drain(spark.sparkContext)
        jobs.get()
      }
      finally spark.sparkContext.removeSparkListener(l)
    }
    val pt = Seq((1L, 0.0, 0.0)).toDF("k", "lat", "lon")
    def feats(latF: Double) = Seq((7L, latF, 0.0)).toDF("fid", "lat", "lon")
    def run(latF: Double): Int = countJobs {
      val r = Knn.nearest(pt, "k", feats(latF), "fid", k = 1,
        mode = Knn.Broadcast).collect()
      assert(r.length == 1)
    }
    val near = run(0.0)   // 1 round
    val far = run(20.0)   // 5 rounds
    val slope = (far - near) / 4.0
    assert(slope <= 8.0, s"jobs/round slope $slope (near=$near far=$far)")
  }

  test("ring-expansion kNN equals brute force (k=3, deterministic ties)") {
    val pts = GeoFixtures.points(spark, sfDir).where(col("k") % 10 === 0)
    val feats = GeoFixtures.features(spark, sfDir)
    def toSet(df: org.apache.spark.sql.DataFrame) =
      df.select("k", "rank", "fid").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val fast = toSet(Knn.nearest(pts, "k", feats, "fid", k = 3))
    val slow = toSet(Knn.bruteForce(pts, "k", feats, "fid", k = 3))
    assert(fast.nonEmpty && fast == slow)
  }

  test("kNN rejects maxRounds < 1 instead of mis-reporting non-convergence") {
    val pts = GeoFixtures.points(spark, sfDir).limit(5)
    val feats = GeoFixtures.features(spark, sfDir)
    val e = intercept[IllegalArgumentException] {
      Knn.nearest(pts, "k", feats, "fid", k = 3, maxRounds = 0)
    }
    assert(e.getMessage.contains("maxRounds"))
  }

  test("kNN index modes agree: broadcast == shuffle-on-cell == brute force") {
    val pts = GeoFixtures.points(spark, sfDir).where(col("k") % 25 === 0)
    val feats = GeoFixtures.features(spark, sfDir)
    def toSet(df: org.apache.spark.sql.DataFrame) =
      df.select("k", "rank", "fid").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val bc = toSet(Knn.nearest(pts, "k", feats, "fid", k = 3, mode = Knn.Broadcast))
    val sh = toSet(Knn.nearest(pts, "k", feats, "fid", k = 3, mode = Knn.Shuffle))
    val auto = toSet(Knn.nearest(pts, "k", feats, "fid", k = 3,
      mode = Knn.Auto(maxBroadcastRows = 1))) // force the shuffle arm of Auto
    val slow = toSet(Knn.bruteForce(pts, "k", feats, "fid", k = 3))
    assert(bc.nonEmpty && bc == sh && sh == auto && auto == slow)
  }

  test("kNN at k=8 and coarse index also matches brute force") {
    val pts = GeoFixtures.points(spark, sfDir).where(col("k") % 50 === 0)
    val feats = GeoFixtures.features(spark, sfDir)
      .where(col("fid") % 7 === 0) // sparser features force ring growth
    def toSet(df: org.apache.spark.sql.DataFrame) =
      df.select("k", "rank", "fid").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val fast = toSet(Knn.nearest(pts, "k", feats, "fid", k = 8, indexRes = 6))
    val slow = toSet(Knn.bruteForce(pts, "k", feats, "fid", k = 8))
    assert(fast.nonEmpty && fast == slow)
  }

  test("IVF ANN: scores exact, rank deterministic, recall reported") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val queries = emb.where(col("vec_id") % 25 === 0)
    val ivf = Similarity.ivfTopK(queries, emb, "vec_id", "embedding",
      k = 5, centroidEvery = 25, nprobe = 6)
    val exact = Similarity.bruteForceTopK(queries, emb, "vec_id", "embedding", k = 5)
    val ivfSet = ivf.select("qid", "nid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exactSet = exact.select("qid", "nid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = ivfSet.intersect(exactSet).size.toDouble / exactSet.size
    info(f"IVF recall@5 = $recall%.3f")
    assert(recall >= 0.2, f"recall $recall too low")
    // determinism across partitionings
    val ivf2 = Similarity.ivfTopK(queries.repartition(7), emb.repartition(5),
      "vec_id", "embedding", k = 5, centroidEvery = 25, nprobe = 6)
    assert(ivf2.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      .toSet == ivf.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet)
  }

  test("LSH ANN: scores are exact and recall@5 is usable") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val queries = emb.where(col("vec_id") % 25 === 0)
    val ann = Similarity.lshTopK(queries, emb, "vec_id", "embedding",
      k = 5, dim = 64, planes = 8)
    val exact = Similarity.bruteForceTopK(queries, emb, "vec_id", "embedding", k = 5)
    // every ANN row's score must equal the true quantized dot product
    val annRows = ann.collect().map(r =>
      (r.getLong(0), r.getLong(2)) -> r.getLong(3)).toMap
    val trueScores = Similarity
      .bruteForceTopK(queries, emb, "vec_id", "embedding", k = Int.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(2)) -> r.getLong(3)).toMap
    annRows.foreach { case (k, s) => assert(trueScores(k) == s) }
    // recall@5 over the query set
    val annSet = ann.select("qid", "nid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exactSet = exact.select("qid", "nid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = annSet.intersect(exactSet).size.toDouble / exactSet.size
    info(f"LSH recall@5 = $recall%.3f over ${exactSet.size / 5} queries")
    assert(recall >= 0.25, f"recall $recall too low")
  }

  test("LSH ANN: hot-bucket salting changes the plan, never the result") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val queries = emb.where(col("vec_id") % 25 === 0)
    def run(hotSalt: Int, hotThreshold: Long) =
      Similarity.lshTopK(queries, emb, "vec_id", "embedding",
          k = 5, dim = 64, planes = 8,
          hotSalt = hotSalt, hotThreshold = hotThreshold)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
        .toSet
    val plain = run(1, Long.MaxValue)
    assert(plain.nonEmpty)
    // every bucket hot, x4 replication
    assert(run(4, 0L) == plain)
    // threshold so high nothing salts (the detection fast-path)
    assert(run(4, Long.MaxValue) == plain)
    // moderate threshold: a mix of hot and cold buckets
    assert(run(8, 5L) == plain)
    // PRE-DECLARED hot buckets (the previous crawl cycle's persisted
    // bucket profile) skip the detection count, same rows
    val profile = emb
      .select(Similarity.lshBucket(col("embedding"), 64, 8).as("bucket"))
      .groupBy("bucket").count().where(col("count") > 5)
      .collect().map(_.getLong(0)).toSeq
    assert(profile.nonEmpty)
    assert(Similarity.lshTopK(queries, emb, "vec_id", "embedding",
        k = 5, dim = 64, planes = 8, hotSalt = 8,
        hotBuckets = profile)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
      .toSet == plain)
  }
}
