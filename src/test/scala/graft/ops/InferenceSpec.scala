package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class InferenceSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val w = Seq(0.5, -0.25, 1.0)
  private lazy val vecs = Seq(
    (1L, Array(1.0f, 2.0f, 3.0f)),
    (2L, Array(0.0f, 0.0f, 0.0f)),
    (3L, Array(-1.0f, 4.0f, 0.5f))).toDF("vec_id", "embedding")

  test("linearScore computes logit and sigmoid prob in-plan") {
    val out = Inference.linearScore(vecs, "vec_id", "embedding", w, bias = 0.1)
      .collect().map(r => r.getAs[Long]("vec_id") ->
        (r.getAs[Double]("logit"), r.getAs[Double]("prob"))).toMap
    assert(math.abs(out(1L)._1 - (0.5 - 0.5 + 3.0 + 0.1)) < 1e-12)
    assert(math.abs(out(2L)._1 - 0.1) < 1e-12)
    val expProb = 1.0 / (1.0 + math.exp(-out(1L)._1))
    assert(math.abs(out(1L)._2 - expProb) < 1e-12)
  }

  test("batchInfer through LinearModel agrees with linearScore") {
    val model = Inference.LinearModel(Array(0.5f, -0.25f, 1.0f), 0.1)
    val batched = Inference.batchInfer(vecs, "vec_id", "embedding", model,
      batchSize = 2)
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Float]("prob")).toMap
    val colPath = Inference.linearScore(vecs, "vec_id", "embedding",
      w.map(_.toFloat.toDouble), 0.1)
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Double]("prob")).toMap
    for (id <- Seq(1L, 2L, 3L))
      assert(math.abs(batched(id) - colPath(id)) < 1e-6,
        s"id $id: ${batched(id)} vs ${colPath(id)}")
  }

  test("batchInfer batches do not change results (batch-size invariance)") {
    val model = Inference.LinearModel(Array(0.5f, -0.25f, 1.0f), 0.1)
    val a = Inference.batchInfer(vecs, "vec_id", "embedding", model, batchSize = 1)
      .collect().map(r => (r.getLong(0), r.getFloat(1))).toSet
    val b = Inference.batchInfer(vecs, "vec_id", "embedding", model, batchSize = 100)
      .collect().map(r => (r.getLong(0), r.getFloat(1))).toSet
    assert(a == b)
  }

  test("pooled endpoint client: batched, pooled, never more clients than poolSize") {
    Inference.PooledEndpointModel.resetForTest()
    val ws = Array(0.5f, -0.25f, 1.0f)
    val big = (0 until 500).map(i =>
      (i.toLong, Array(i * 0.01f, -i * 0.02f, 1.0f))).toDF("vec_id", "embedding")
      .repartition(8) // many tasks, many batches — ONE bounded client pool
    val pooled = Inference.batchInfer(big, "vec_id", "embedding",
      new Inference.PooledEndpointModel(ws, 0.1, poolSize = 2), batchSize = 16)
      .collect().map(r => (r.getLong(0), r.getFloat(1))).toMap
    // scores identical to the in-plan reference head
    val reference = Inference.batchInfer(big, "vec_id", "embedding",
      Inference.LinearModel(ws, 0.1), batchSize = 16)
      .collect().map(r => (r.getLong(0), r.getFloat(1))).toMap
    assert(pooled == reference)
    // pool bound held across 8 partitions / ~32 batches (local[*]: driver
    // and executor share a JVM, so the counter is observable here)
    assert(Inference.PooledEndpointModel.createdCount <= 2,
      s"created ${Inference.PooledEndpointModel.createdCount} clients")
    assert(Inference.PooledEndpointModel.createdCount >= 1)
  }

  test("two pooled models with different weights never share clients") {
    Inference.PooledEndpointModel.resetForTest()
    val wsA = Array(0.5f, -0.25f, 1.0f)
    val wsB = Array(-1.0f, 2.0f, 0.0f)
    val df = (0 until 100).map(i =>
      (i.toLong, Array(i * 0.01f, -i * 0.02f, 1.0f))).toDF("vec_id", "embedding")
      .repartition(4)
    def run(ws: Array[Float], poolSize: Int) =
      Inference.batchInfer(df, "vec_id", "embedding",
        new Inference.PooledEndpointModel(ws, 0.1, poolSize), batchSize = 8)
        .collect().map(r => (r.getLong(0), r.getFloat(1))).toMap
    def ref(ws: Array[Float]) =
      Inference.batchInfer(df, "vec_id", "embedding",
        Inference.LinearModel(ws, 0.1), batchSize = 8)
        .collect().map(r => (r.getLong(0), r.getFloat(1))).toMap
    // model A populates its pool first; a later model B with DIFFERENT
    // weights (and a larger pool) must get its own clients, not A's —
    // otherwise B silently scores with A's weights
    val a = run(wsA, poolSize = 2)
    val b = run(wsB, poolSize = 4) // larger pool: must not dead-block either
    assert(a == ref(wsA))
    assert(b == ref(wsB))
    // and re-running A stays within the pools' bounds (no unbounded client
    // growth): clients are created lazily, so the re-run may create A's
    // second client, but never more than each pool's size
    assert(run(wsA, poolSize = 2) == ref(wsA))
    val created = Inference.PooledEndpointModel.createdCount
    assert(created <= 2 + 4, s"created $created clients for pools of 2 and 4")
  }

  test("hashedTextScore: hand-computed fastText-style head, both hash modes") {
    import spark.implicits._
    val dim = 8
    val w = (0 until dim).map(_.toDouble / 10.0) // w[b] = b/10
    val df = Seq((1L, "alpha beta alpha"), (2L, ""), (3L, "Gamma, GAMMA!"))
      .toDF("doc_id", "text")
    for (mode <- Seq("xxh64", "md5")) {
      // naive replay with the same per-mode bucket function
      def bucket(t: String): Int = mode match {
        case "xxh64" => (math.floorMod(
          org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(
            org.apache.spark.unsafe.types.UTF8String.fromString(t),
            org.apache.spark.sql.types.StringType, 42L), dim.toLong)).toInt
        case "md5" =>
          val hex = java.security.MessageDigest.getInstance("MD5")
            .digest(t.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(15)
          (java.lang.Long.parseLong(hex, 16) % dim).toInt
      }
      def naive(text: String): (Double, Double) = {
        val toks = text.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty)
        val dot = toks.map(t => w(bucket(t))).sum
        val logit = dot / math.max(toks.length, 1) + 0.25
        (math.rint(logit * 1e6) / 1e6,
          math.rint(1.0 / (1.0 + math.exp(-logit)) * 1e6) / 1e6)
      }
      val got = Inference.hashedTextScore(df, "doc_id", "text", dim, w, 0.25, mode)
        .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
      for ((id, text) <- Seq(1L -> "alpha beta alpha", 2L -> "", 3L -> "Gamma, GAMMA!")) {
        val (el, ep) = naive(text)
        val (gl, gp) = got(id)
        assert(math.abs(gl - el) < 1e-9, s"mode=$mode doc=$id logit $gl vs $el")
        assert(math.abs(gp - ep) < 1e-9, s"mode=$mode doc=$id prob $gp vs $ep")
      }
    }
  }

  test("hashedTextScore plan: one projection, no shuffle, no join") {
    import spark.implicits._
    val df = Seq((1L, "some text here")).toDF("doc_id", "text")
    val plan = Inference.hashedTextScore(df, "doc_id", "text", 16,
      (0 until 16).map(_ * 0.01), 0.0).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange") && !plan.contains("Join"), plan)
  }
}
