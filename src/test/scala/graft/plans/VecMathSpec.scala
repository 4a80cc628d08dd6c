package graft.plans

import graft.SparkSpec
import graft.ops.Similarity
import org.apache.spark.sql.functions._

/** Bit-exactness guards for the compiled vector expressions: the SQL
  * oracles (and cross-partitioning determinism) depend on cosine_sim /
  * sign_lsh_buckets producing EXACTLY the values of the higher-order
  * column forms they replaced. Random vectors, exact equality.
  */
class VecMathSpec extends SparkSpec {

  private def randomVectors(n: Int, dims: Int, seed: Long) = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    (0 until n).map { i =>
      (i.toLong, Seq.fill(dims)((rnd.nextFloat() * 2f - 1f)))
    }.toDF("vec_id", "embedding")
  }

  test("cosine_sim equals the zip_with/aggregate column form exactly") {
    val df = randomVectors(300, 64, seed = 11).cache()
    val pairs = df.as("a").join(df.as("b"), col("a.vec_id") + 1 === col("b.vec_id"))
      .select(col("a.embedding").as("e_a"), col("b.embedding").as("e_b"))
    val diff = pairs
      .withColumn("slow", Similarity.cosine(col("e_a"), col("e_b")))
      .withColumn("fast", VecMath.cosineSim(col("e_a"), col("e_b")))
      .where(col("slow") =!= col("fast")) // EXACT double equality
      .count()
    assert(diff == 0L)
  }

  test("sign_lsh_buckets equals the per-band lshBucket column form exactly") {
    val df = randomVectors(300, 64, seed = 13).cache()
    val bands = 8
    val ppb = 3
    val fast = Similarity.bandBuckets(df, bands, ppb).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    val slowCols = (0 until bands).map(b =>
      Similarity.lshBucket(col("embedding"), ppb, b * ppb).as(s"b$b"))
    val slow = df.select((col("vec_id") +: slowCols): _*).collect()
    slow.foreach { r =>
      val id = r.getLong(0)
      (0 until bands).foreach { b =>
        assert(fast((id, b)) == r.getLong(b + 1), s"bucket mismatch vec=$id band=$b")
      }
    }
  }

  test("ivf_probe_order equals the interpreted quantize+L2+struct-sort column form exactly") {
    val df = randomVectors(400, 48, seed = 19).cache()
    // deterministic centroid table incl. duplicate-distance ties (cid 2 == cid 3)
    val rnd = new scala.util.Random(23)
    val cents: Seq[Seq[Long]] =
      (0 until 4).map(_ => Seq.fill(48)(rnd.nextInt(20001).toLong - 10000L)) match {
        case s => s.updated(3, s(2)) // exact tie between cids 2 and 3
      }
    // the interpreted form ivfTrainedTopK used before the compiled path
    val q = Similarity.quantized(col("embedding"))
    def l2(a: org.apache.spark.sql.Column, c: Seq[Long]) =
      aggregate(zip_with(a, typedLit(c), (x, y) => (x - y) * (x - y)),
        lit(0L), (acc, v) => acc + v)
    val structs = cents.zipWithIndex.map { case (c, cid) =>
      struct(l2(q, c).as("d"), lit(cid).as("cid"))
    }
    val slow = df.select(col("vec_id"),
        transform(array_sort(array(structs: _*)), x => x.getField("cid")).as("o"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val fast = df.select(col("vec_id"), VecMath.ivfProbeOrder(col("embedding"), cents).as("o"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(fast.nonEmpty && fast.keySet == slow.keySet)
    fast.foreach { case (id, o) => assert(o == slow(id), s"probe order mismatch vec=$id") }
  }

  test("roundHalfUp matches Spark round() on float*10000 quantization inputs") {
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    val xs = Seq(0f, -0f, 1.00005f, -1.00005f, 0.49999997f, Float.MinPositiveValue) ++
      Seq.fill(2000)(rnd.nextFloat() * 4f - 2f)
    val viaSpark = xs.toDF("f")
      .select(round(col("f").cast("double") * 10000).cast("long").as("r")).collect()
      .map(_.getLong(0))
    xs.zip(viaSpark).foreach { case (f, want) =>
      assert(VecMath.roundHalfUp(f.toDouble * 10000.0) == want, s"f=$f")
    }
  }

  test("planeComponentValue matches the portable-hash column derivation") {
    import graft.ops.TextOps
    import spark.implicits._
    val pairs = for (p <- 0 until 8; i <- Seq(0, 1, 7, 63, 255)) yield (p, i)
    val viaSpark = pairs.toDF("p", "i")
      .select(col("p"), col("i"),
        (pmod(TextOps.portableHash(concat_ws(":", col("p"), col("i"))), lit(1000L)) - 500L).as("c"))
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    pairs.foreach { case (p, i) =>
      assert(Similarity.planeComponentValue(p, i) == viaSpark((p, i)), s"($p,$i)")
    }
  }
}
