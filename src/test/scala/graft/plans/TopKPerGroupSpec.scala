package graft.plans

import org.apache.spark.sql.functions._

import graft.{SparkEntry, SparkTestBase, Tables}
import graft.operators.SimilarityOps

/** Top-k per group is Catalyst's `row_number() <= k` window (planned as a
  * Partial WindowGroupLimit before the group-key exchange and a Final one
  * after it; PlanQualitySpec pins that shape). */
class TopKPerGroupSpec extends SparkTestBase {

  test("q_topk_custom equals q_topk minus rn") {
    val custom = SparkEntry.queries("q_topk_custom")(spark, sf)
    assert(custom.columns.toSeq ==
      Seq("o_orderpriority", "o_orderkey", "o_totalprice"))
    val got = custom.collect().toSeq
    val ranked = SparkEntry.queries("q_topk")(spark, sf).drop("rn")
      .orderBy("o_orderpriority", "o_orderkey").collect().toSeq
    assert(got == ranked)
    // and a driver-side reference: each priority's 5 dearest orders, ties
    // to the smaller key
    val want = Tables.orders(spark, sf)
      .select("o_orderpriority", "o_orderkey", "o_totalprice").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1).values
      .flatMap(_.sortBy(r => (-r._3, r._2)).take(5))
      .map(r => (r._1, r._2, BigDecimal(r._3).setScale(4,
        BigDecimal.RoundingMode.HALF_UP).toDouble))
      .toSeq.sortBy(r => (r._1, r._2))
    assert(want.size == 25)
    assert(got.map(r => (r.getString(0), r.getLong(1), r.getDouble(2))) == want)
  }

  test("probe: k larger than any group returns whole groups; k=1 returns maxima") {
    val emb = Tables.embeddings(spark, sf)
    val probes = emb.filter(col("vec_id") < 3)
    val (nProbes, n) = (probes.count(), emb.count())
    val all = SimilarityOps.bruteForceTopK(probes, emb, Int.MaxValue)
    // every probe ranks every other vector, ranks 1..n-1
    val ranks = all.groupBy("q_id")
      .agg(count(lit(1)).as("c"), min("rn").as("lo"), max("rn").as("hi"))
      .collect()
    assert(ranks.length == nProbes)
    ranks.foreach { r =>
      assert(r.getLong(1) == n - 1 && r.getInt(2) == 1 && r.getInt(3) == n - 1, r)
    }
    // k = 1 keeps each probe's maximum under (cos_sim desc, cand_id asc)
    val best = all.groupBy("q_id")
      .agg(max(struct(col("cos_sim"), (-col("cand_id")).as("neg"))).as("m"))
      .select(col("q_id"), (-col("m.neg")).as("cand_id"), col("m.cos_sim"))
      .orderBy("q_id").collect().toSeq
    val top1 = SimilarityOps.bruteForceTopK(probes, emb, 1)
    assert(top1.filter(col("rn") =!= 1).isEmpty)
    assert(top1.select("q_id", "cand_id", "cos_sim").collect().toSeq == best)
  }
}
