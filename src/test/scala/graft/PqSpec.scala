package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Product-quantization properties the oracle can't see from one run:
  * training determinism, no checkpoint left pinned by training,
  * argmin correctness of the encoder against a brute recompute, and
  * the ADC ≡ reconstructed-dot identity that makes the score an honest
  * inner-product approximation.
  */
class PqSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private def run(name: String) = SparkEntry.queries(name)(spark, sf)

  test("PQ training is deterministic: two runs emit identical codebooks") {
    val a = run("pq_codebooks").collect().map(_.toString).sorted.toSeq
    val b = run("pq_codebooks").collect().map(_.toString).sorted.toSeq
    assert(a == b)
  }

  test("PQ training pins no checkpoint: building a codebook adds no persistent RDD") {
    val sc = spark.sparkContext
    for (name <- Seq("pq_codebooks", "ivfpq_codebooks")) {
      val before = sc.getPersistentRDDs.keySet
      run(name)
      val added = sc.getPersistentRDDs.keySet -- before
      assert(added.isEmpty, s"$name: persistent RDDs added: $added")
    }
  }

  test("every vector gets 8 codes; each code is a live codeword of its subspace") {
    val cb = run("pq_codebooks")
      .select(col("s"), col("cell")).distinct().collect()
      .map(r => (r.getInt(0), r.getInt(1))).toSet
    val codes = run("embedding_pq_codes").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
    val n = spark.read.parquet(s"$sf/embeddings.parquet").count()
    assert(codes.length == n * 8)
    assert(codes.forall { case (_, s, code) => cb.contains((s, code)) })
  }

  test("encoder picks the true argmin codeword per subspace (brute recompute)") {
    val cents = run("pq_codebooks").collect()
      .map(r => ((r.getInt(0), r.getInt(1), r.getInt(2)), r.getFloat(3))).toMap
    val cbBySubspace: Map[Int, Seq[(Int, Array[Float])]] =
      cents.keys.map(k => (k._1, k._2)).toSeq.distinct
        .groupBy(_._1)
        .map { case (s, cells) =>
          s -> cells.map(_._2).sorted.map(cell =>
            (cell, Array.tabulate(8)(i => cents((s, cell, i + 1)))))
        }
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toMap
    val codes = run("embedding_pq_codes").collect()
      .map(r => ((r.getLong(0), r.getInt(1)), r.getInt(2))).toMap
    // spot-check every 7th vector, all subspaces
    emb.keys.toSeq.sorted.filter(_ % 7 == 0).foreach { id =>
      val e = emb(id)
      for (s <- 0 until 8) {
        val best = cbBySubspace(s).minBy { case (_, cf) =>
          val d2 = (0 until 8).map(i => {
            val diff = e(s * 8 + i).toDouble - cf(i).toDouble; diff * diff
          }).sum
          (d2, 0)
        }
        val chosen = codes((id, s))
        val chosenCf = cbBySubspace(s).find(_._1 == chosen).get._2
        // compare distances, not ids: distinct codewords can tie
        val dChosen = (0 until 8).map(i => {
          val diff = e(s * 8 + i).toDouble - chosenCf(i).toDouble; diff * diff
        }).sum
        val dBest = (0 until 8).map(i => {
          val diff = e(s * 8 + i).toDouble - best._2(i).toDouble; diff * diff
        }).sum
        assert(dChosen <= dBest + 1e-12, s"vec $id subspace $s")
      }
    }
  }

  test("ADC score equals the exact dot against the reconstructed vector") {
    val cents = run("pq_codebooks").collect()
      .map(r => ((r.getInt(0), r.getInt(1), r.getInt(2)), r.getFloat(3))).toMap
    val codes = run("embedding_pq_codes").collect()
      .map(r => ((r.getLong(0), r.getInt(1)), r.getInt(2))).toMap
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toMap
    val adc = run("knn_pq_adc").collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(3))).toMap
    adc.take(25).foreach { case ((qid, nid), estR) =>
      val q = emb(qid)
      // reconstruct neighbor from its codes, dot in subspace order
      var est = 0.0
      for (s <- 0 until 8) {
        val cell = codes((nid, s))
        var d = 0.0
        for (i <- 0 until 8)
          d += q(s * 8 + i).toDouble * cents((s, cell, i + 1)).toDouble
        est += d
      }
      assert(math.abs(est - estR) < 5e-7, s"query $qid neighbor $nid")
    }
  }
}
