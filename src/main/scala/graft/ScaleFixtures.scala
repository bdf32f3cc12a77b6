package graft

import graft.core.SparkSessionFactory
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** sf1 (or any N×) rehearsal fixture generator — the scale-review tool
  * behind BASELINE.md's "sf1 scale rehearsal" table (VERDICT r11 #3).
  *
  * Scales a driver-provided SF dir by replicating the FACT tables
  * `copies`× with disjoint key spaces while keeping the DIMENSIONS
  * fixed — how a real deployment grows (10× more orders, same 25
  * nations). Foreign keys are offset consistently per copy so join
  * cardinalities per copy replicate the source exactly; every copy-i
  * transform is a deterministic column expression (no RNG), so the
  * corpus is reproducible bit-for-bit.
  *
  * Two transforms protect the DATA-scaling laws of the near-dup /
  * similarity operators (the trick behind BASELINE.md's "Dedup scaling"
  * rows — without
  * them, 10 identical copies of every document/vector make cross-copy
  * candidate pairs grow ~copies², a fixture artifact no production
  * corpus exhibits and one that would mis-attribute super-linear bench
  * rows to the engine):
  *   - documents.text goes through a per-copy alphabet rotation
  *     (`translate`): within-copy shingle/fingerprint structure is
  *     EXACTLY the source's, cross-copy vocabularies are disjoint;
  *   - embeddings.embedding goes through a per-copy DETERMINISTIC
  *     SIGNED PERMUTATION (seeded Fisher–Yates + ±1 signs — an
  *     orthogonal transform; plain diag(±1) was measured insufficient,
  *     see the inline note): within-copy dot products and norms equal
  *     the source's exactly in real arithmetic (up to float summation
  *     order, since permuting coordinates reorders the accumulation),
  *     cross-copy dots become
  *     sign-randomized sums ≈ N(0, 1/dim) — no cross-copy pair
  *     survives a 0.38 cosine threshold. Round 13 replaced the earlier
  *     circular shift here: shifted copies of SMOOTH embeddings retain
  *     real autocorrelation, and the round-12 rehearsal's q55 row read
  *     "×31 shuffle" that was actually ×32.6 OUTPUT growth — 19,219
  *     legitimate cross-copy pairs ≥ 0.38 created by the fixture, not
  *     an engine scaling flaw (the gate's bucket bits already grow
  *     log N: 7 → 10 across the pair).
  *
  * Run: `sbt "runMain graft.ScaleFixtures <srcDir> <destDir> <copies>"`
  * (defaults: /root/testdata/sf0.1 → /dev/shm/graft-sf1, 10 copies —
  * tmpfs so the rehearsal's scans are host-state-free like the q60
  * staging dir).
  */
object ScaleFixtures {

  def main(args: Array[String]): Unit = {
    val src = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val dest = args.lift(1).getOrElse("/dev/shm/graft-sf1")
    val copies = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = SparkSessionFactory.localFromEnv("graft-scale-fixtures")
    scale(spark, src, dest, copies)
    spark.stop()
  }

  def scale(spark: SparkSession, src: String, dest: String,
      copies: Int): Unit = {
    def read(t: String) = spark.read.parquet(s"$src/$t.parquet")
    def write(df: DataFrame, t: String, files: Int): Unit = {
      df.repartition(files).write.mode("overwrite")
        .parquet(s"$dest/$t.parquet")
      println(s"wrote $t x$copies")
    }

    // dims: verbatim, one copy
    write(read("region"), "region", 1)
    write(read("nation"), "nation", 1)

    // key-space strides (max+1 per source table, so offsets never collide)
    def stride(t: String, key: String): Long =
      read(t).agg(max(col(key))).head.getLong(0) + 1L
    val kCust = stride("customer", "c_custkey")
    val kSupp = stride("supplier", "s_suppkey")
    val kPart = stride("part", "p_partkey")
    val kOrd = stride("orders", "o_orderkey")

    def replicate(df: DataFrame, shifts: Map[String, Long],
        extra: (DataFrame, Int) => DataFrame = (d, _) => d): DataFrame =
      (0 until copies).map { i =>
        val shifted = shifts.foldLeft(df) { case (d, (c, k)) =>
          d.withColumn(c, col(c) + lit(i * k))
        }
        extra(shifted, i)
      }.reduce(_ unionAll _)

    write(replicate(read("customer"), Map("c_custkey" -> kCust)),
      "customer", 4)
    write(replicate(read("supplier"), Map("s_suppkey" -> kSupp)),
      "supplier", 1)
    write(replicate(read("part"), Map("p_partkey" -> kPart)), "part", 4)
    write(replicate(read("orders"),
      Map("o_orderkey" -> kOrd, "o_custkey" -> kCust)), "orders", 16)
    write(replicate(read("lineitem"),
      Map("l_orderkey" -> kOrd, "l_partkey" -> kPart,
        "l_suppkey" -> kSupp)), "lineitem", 32)

    val kEvent = stride("events", "event_id")
    val kUser = stride("events", "user_id")
    write(replicate(read("events"),
      Map("event_id" -> kEvent, "user_id" -> kUser)), "events", 16)

    val kDoc = stride("documents", "doc_id")
    val alpha = "abcdefghijklmnopqrstuvwxyz"
    write(replicate(read("documents"), Map("doc_id" -> kDoc),
      extra = (d, i) => {
        // copies 1–25: alphabet ROTATION (kept verbatim so the sf1
        // 10-copy corpus and its recorded rehearsal rows stay
        // bit-identical). Copies ≥ 26: a seeded alphabet PERMUTATION —
        // `i % 26` would alias copy 26 to copy 0 (byte-identical twin
        // documents), and the round-15 sf3 (30-copy) rehearsal measured
        // exactly that as a ×1.2 shuffle exponent on the shingle gates
        // (q44/q202): cross-copy duplicate text that no production
        // corpus exhibits. A random permutation keeps within-copy
        // shingle structure exactly (bijective char map) with
        // vanishing cross-copy vocabulary overlap.
        val target =
          if (i < 26) alpha.drop(i % 26) + alpha.take(i % 26)
          else {
            val rng = new scala.util.Random(7000003L * i)
            rng.shuffle(alpha.toVector).mkString
          }
        if (i == 0) d
        else d.withColumn("text", translate(col("text"), alpha, target))
      }), "documents", 8)

    val kVec = stride("embeddings", "vec_id")
    val dim = read("embeddings")
      .select(size(col("embedding"))).head.getInt(0)
    write(replicate(read("embeddings"), Map("vec_id" -> kVec),
      extra = (d, i) =>
        // per-copy signed permutation (seeded Fisher–Yates + ±1 signs —
        // a signed permutation matrix, i.e. orthogonal): within-copy
        // dots/norms are EXACTLY the source's, and a same-source pair
        // across copies becomes Σ ±u_{π(k)}·u_{σ(k)} with variance
        // ~1/dim — ~3σ below the 0.38 threshold. Sign flips ALONE are
        // not enough: these embeddings hold ~35% of their mass in 4
        // dims, so diag(±1) left same-vector cross-copy cosines at
        // σ≈0.2 and thousands of ≥0.38 survivors (measured).
        if (i == 0) d
        else {
          val rng = new scala.util.Random(1000003L * i)
          val perm = rng.shuffle((0 until dim).toVector)
          val cols = (0 until dim).map { k =>
            col("embedding")(perm(k)) *
              lit((if (rng.nextBoolean()) 1.0f else -1.0f))
          }
          d.withColumn("embedding", array(cols: _*))
        }),
      "embeddings", 8)
  }
}
