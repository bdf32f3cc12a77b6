package graft.queries

import graft.SparkSpec

/** [[Dedup.b3Card]], the B³ card q315 and the ER capstone tail share,
  * on a hand-built contingency table against its closed form. */
class B3CardSpec extends SparkSpec {

  test("B³ card: one merged cluster and one split truth give the closed-form card") {
    import spark.implicits._
    // c1 merges truths 1 and 2; truth 3 is split over c2 and c3; c4 is
    // pure. n_c = (3, 3, 1, 1), n_t = (2, 1, 4, 1), 8 items.
    val ct = Seq(("c1", 1L, 2L), ("c1", 2L, 1L), ("c2", 3L, 3L),
      ("c3", 3L, 1L), ("c4", 4L, 1L)).toDF("ckey", "truth", "n_ct")
    // precision = Σ n_ct²/n_c / N = (4/3 + 1/3 + 9/3 + 1 + 1) / 8 = 5/6;
    // recall = Σ n_ct²/n_t / N = (4/2 + 1 + 9/4 + 1/4 + 1) / 8 = 13/16
    val p = 5L * 1000000L / 6L
    val rc = 13L * 1000000L / 16L
    Seq(false, true).foreach { cut =>
      val card = Dedup.b3Card(ct, "ckey", cutSides = cut).collect()
      assert(card.length == 1)
      val r = card.head
      assert(r.getAs[Long]("n_items") == 8L)
      assert(r.getAs[Long]("b3_precision_ppm") == p)
      assert(r.getAs[Long]("b3_recall_ppm") == rc)
      // F1 over the ppm values; the exact 2PR/(P+R) = 65/79 floors alike
      assert(r.getAs[Long]("b3_f1_ppm") == 2L * p * rc / (p + rc))
      assert(r.getAs[Long]("b3_f1_ppm") == 65L * 1000000L / 79L)
      assert(r.getAs[Long]("n_clusters") == 4L)
      assert(r.getAs[Long]("n_truth_groups") == 4L)
      assert(r.getAs[Long]("n_merged_clusters") == 1L)
      assert(r.getAs[Long]("n_split_truths") == 1L)
    }
  }
}
