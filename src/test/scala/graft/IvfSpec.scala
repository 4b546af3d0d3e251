package graft

import graft.ops.{Ivf, Similarity}
import graft.sources.Tables
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class IvfSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  test("probing every cell reproduces exact brute-force top-k") {
    val emb = Tables.embeddings(spark, dir)
    val q = emb.filter($"vec_id" === 0L)
    val brute = Similarity.bruteTopK(emb, q, "vec_id", "embedding", 10)
      .as[(Long, Double)].collect().toSeq
    val ivfAll = Similarity.ivfTopK(emb, q, "vec_id", "embedding", 10,
        nClusters = 8, nProbe = 8)
      .as[(Long, Double)].collect().toSeq
    assert(ivfAll == brute)
  }

  test("partial probe returns k results that are a subset-quality answer") {
    val emb = Tables.embeddings(spark, dir)
    val q = emb.filter($"vec_id" === 0L)
    val out = Similarity.ivfTopK(emb, q, "vec_id", "embedding", 10,
      nClusters = 8, nProbe = 2).as[(Long, Double)].collect().toSeq
    assert(out.size == 10)
    // the query's own cell is always probed → self at cos 1.0 leads
    assert(out.head._1 == 0L && out.head._2 == 1.0)
    // scores are sorted descending
    assert(out.map(_._2) == out.map(_._2).sorted.reverse)
  }

  test("built index fits once: repeated probes trigger no KMeans job") {
    val emb = Tables.embeddings(spark, dir)
    val q = emb.filter($"vec_id" === 0L)
    val path = s"/tmp/graft_ivf_spec_${System.nanoTime()}"
    Ivf.invalidateCache()
    val index = Ivf.buildCached(emb, "vec_id", "embedding", 8, path)
    val first = Ivf.probe(index, q, 10, nProbe = 2)
      .as[(Long, Double)].collect().toSeq
    val fitsAfterBuild = Ivf.fits.get()
    // cached handle AND a fresh cache (disk reuse) both skip the fit
    val again = Ivf.buildCached(emb, "vec_id", "embedding", 8, path)
    val second = Ivf.probe(again, q, 10, nProbe = 2)
      .as[(Long, Double)].collect().toSeq
    Ivf.invalidateCache()
    val fromDisk = Ivf.buildCached(emb, "vec_id", "embedding", 8, path)
    val third = Ivf.probe(fromDisk, q, 10, nProbe = 2)
      .as[(Long, Double)].collect().toSeq
    assert(Ivf.fits.get() == fitsAfterBuild)
    assert(second == first && third == first)
    assert(first.head._1 == 0L && first.head._2 == 1.0)
  }

  test("cache is fingerprint-keyed: different nClusters at the same path refits") {
    val emb = Tables.embeddings(spark, dir)
    val path = s"/tmp/graft_ivf_spec_fp_${System.nanoTime()}"
    Ivf.invalidateCache()
    val a = Ivf.buildCached(emb, "vec_id", "embedding", 4, path)
    val fitsAfterA = Ivf.fits.get()
    // same path, different knob → a DIFFERENT index must be built, not the
    // cached 4-cluster one served under a 8-cluster request
    val b = Ivf.buildCached(emb, "vec_id", "embedding", 8, path)
    assert(Ivf.fits.get() == fitsAfterA + 1)
    assert(a.centroids.length == 4 && b.centroids.length == 8)
  }

  test("an input rewritten under the same file name changes the " +
      "fingerprint and rebuilds the index over the new rows") {
    import java.nio.file.{Files, StandardCopyOption}
    val base = Files.createTempDirectory("graft_ivf_spec_rewrite")
    val input = Files.createDirectories(base.resolve("emb"))
    // each version lands as the SAME file name, input/part-0.parquet
    def writeRows(n: Long): org.apache.spark.sql.DataFrame = {
      val tmp = base.resolve(s"tmp_$n").toString
      Tables.embeddings(spark, dir).filter($"vec_id" < n).coalesce(1)
        .write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head.toPath
      Files.copy(part, input.resolve("part-0.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
      spark.read.parquet(input.toString)
    }
    val path = base.resolve("index").toString
    Ivf.invalidateCache()
    val before = writeRows(40)
    val fpBefore = Ivf.indexFingerprint(before, "vec_id", "embedding", 4,
      4096, 42L)
    Ivf.buildCached(before, "vec_id", "embedding", 4, path)
    val after = writeRows(60)
    assert(after.inputFiles.toSeq == before.inputFiles.toSeq)
    assert(Ivf.indexFingerprint(after, "vec_id", "embedding", 4, 4096,
      42L) != fpBefore)
    val index = Ivf.buildCached(after, "vec_id", "embedding", 4, path)
    assert(spark.read.parquet(index.path).count() == 60L)
  }

  test("corrupt or foreign disk artifact triggers a clean rebuild") {
    val emb = Tables.embeddings(spark, dir)
    val path = s"/tmp/graft_ivf_spec_corrupt_${System.nanoTime()}"
    // plant garbage where the centroids parquet would live
    val cdir = new java.io.File(path + ".centroids")
    cdir.mkdirs()
    val junk = new java.io.PrintWriter(new java.io.File(cdir, "part-0.parquet"))
    junk.write("not parquet"); junk.close()
    Ivf.invalidateCache()
    val index = Ivf.buildCached(emb, "vec_id", "embedding", 8, path)
    assert(index.centroids.length == 8)
    val q = emb.filter($"vec_id" === 0L)
    val out = Ivf.probe(index, q, 10, nProbe = 8).as[(Long, Double)].collect()
    assert(out.head._1 == 0L && out.head._2 == 1.0)
  }

  test("probe requires a non-empty single-vector query") {
    val emb = Tables.embeddings(spark, dir)
    val path = s"/tmp/graft_ivf_spec_empty_${System.nanoTime()}"
    val index = Ivf.buildCached(emb, "vec_id", "embedding", 8, path)
    val ex = intercept[IllegalArgumentException] {
      Ivf.probe(index, emb.filter($"vec_id" === -1L), 10, nProbe = 2)
    }
    assert(ex.getMessage.contains("non-empty"))
  }

  test("batch probe over all cells equals the exact k-NN join, no refit") {
    val emb = Tables.embeddings(spark, dir)
    val qs = emb.filter($"vec_id" < 5L)
    val path = s"/tmp/graft_ivf_spec_batch_${System.nanoTime()}"
    val index = Ivf.build(emb, "vec_id", "embedding", 8, path)
    val fitsAfterBuild = Ivf.fits.get()
    val exact = Similarity.knnJoin(emb, qs, "vec_id", "embedding", 3)
      .orderBy("q_id", "rank")
      .as[(Long, Long, Long, Double)].collect().toSeq
    val batch = Ivf.probeBatch(index, qs, "vec_id", 3, nProbe = 8)
      .orderBy("q_id", "rank")
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(batch == exact)
    // cell ranking is in-plan: the probe ran no KMeans fit and no driver
    // collect of query vectors
    assert(Ivf.fits.get() == fitsAfterBuild)
  }

  test("partial batch probe: every query's own cell answered, k rows each") {
    val emb = Tables.embeddings(spark, dir)
    val qs = emb.filter($"vec_id" < 5L)
    val path = s"/tmp/graft_ivf_spec_batchp_${System.nanoTime()}"
    val index = Ivf.build(emb, "vec_id", "embedding", 8, path)
    val out = Ivf.probeBatch(index, qs, "vec_id", 3, nProbe = 2)
      .as[(Long, Long, Long, Double)].collect().toSeq
    // 5 queries × up to 3 ranked rows, ranks dense from 1, scores sorted
    assert(out.map(_._1).distinct.sorted == (0L until 5L))
    out.groupBy(_._1).foreach { case (q, rows) =>
      assert(rows.size <= 3, s"query $q returned ${rows.size} rows")
      assert(rows.sortBy(_._2).map(_._2) == (1L to rows.size).toSeq)
      val scores = rows.sortBy(_._2).map(_._4)
      assert(scores == scores.sorted.reverse, s"query $q scores unsorted")
    }
  }

  test("persisted probe over all cells reproduces exact brute-force top-k") {
    val emb = Tables.embeddings(spark, dir)
    val q = emb.filter($"vec_id" === 0L)
    val path = s"/tmp/graft_ivf_spec_all_${System.nanoTime()}"
    val index = Ivf.build(emb, "vec_id", "embedding", 8, path)
    val brute = Similarity.bruteTopK(emb, q, "vec_id", "embedding", 10)
      .as[(Long, Double)].collect().toSeq
    val probed = Ivf.probe(index, q, 10, nProbe = 8)
      .as[(Long, Double)].collect().toSeq
    assert(probed == brute)
  }

  test("FITTED quantizer recall@K is non-decreasing in nProbe and exact " +
      "at all cells — the quantitative partial-probe gate") {
    val emb = Tables.embeddings(spark, dir)
    val qs = emb.filter($"vec_id" < 5L)
    val k = 20
    val path = s"/tmp/graft_ivf_spec_recall_${System.nanoTime()}"
    val index = Ivf.build(emb, "vec_id", "embedding", 8, path)
    val truth = Similarity.knnJoin(emb, qs, "vec_id", "embedding", k)
      .select("q_id", "vec_id").as[(Long, Long)].collect().toSet
    val recalls = (1 to index.centroids.length).map { np =>
      val ret = Ivf.probeBatch(index, qs, "vec_id", k, np)
        .select("q_id", "vec_id").as[(Long, Long)].collect().toSet
      ret.count(truth).toDouble / truth.size
    }
    assert(recalls == recalls.sorted,
      s"recall not monotone in nProbe: $recalls")
    assert(recalls.last == 1.0, s"all-cells recall ${recalls.last} != 1.0")
    // a partial probe is genuinely partial on this corpus (the gate is
    // meaningful, not vacuously 1.0 everywhere)
    assert(recalls.head < 1.0, "nProbe=1 already exact — gate is vacuous")
  }

  test("buildCachedFixed: literal anchors, no KMeans fit, registered " +
      "sim_ivf_recall curve is monotone with exact all-cells row") {
    val fitsBefore = Ivf.fits.get()
    val out = graft.queries.SimilarityQueries.ivfRecall(spark, dir)
      .as[(Int, Long, Long, Double)].collect().toSeq.sortBy(_._1)
    assert(Ivf.fits.get() == fitsBefore, "fixed-anchor index ran a fit")
    assert(out.map(_._1) == Seq(1, 2, 8))
    val rec = out.map(_._4)
    assert(rec == rec.sorted, s"recall not monotone: $rec")
    assert(rec.last == 1.0 && out.last._3 == 100L)
  }
}
