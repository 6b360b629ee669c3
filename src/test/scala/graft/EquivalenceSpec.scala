package graft

import graft.operators.{Dedup, Relational}
import org.apache.spark.sql.functions._

/** Randomized equivalence checks between alternative implementations of
  * the same semantics — the paths a scale-dependent dispatch picks
  * between must agree on EVERY input, not just the planted test corpus.
  */
class EquivalenceSpec extends SparkSpecBase {
  import spark.implicits._

  test("count-min table is split-invariant and dominates truth on random streams") {
    val rnd = new scala.util.Random(1234)
    val (width, depth) = (16, 3)
    val (p, as, bs) = (2147483647L,
      Seq(131071L, 524287L, 8191L), Seq(12345L, 67890L, 111213L))
    for (_ <- 1 to 3) {
      val keys = Seq.fill(400)(rnd.nextInt(40).toLong)
      def tab(ks: Seq[Long]) =
        Relational.countMinTable(ks.toDF("user_id"), "user_id", width, depth)
          .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2))
      val whole = tab(keys).toMap
      // elementwise merge of ANY partitioning reproduces the whole table
      val parts = keys.grouped(rnd.nextInt(100) + 50).toSeq
      val merged = parts.flatMap(tab)
        .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
      assert(merged === whole)
      // estimate = min over rows never undercounts any key
      val truth = keys.groupBy(identity).view.mapValues(_.size.toLong)
      truth.foreach { case (k, t) =>
        val est = (0 until depth).map { r =>
          whole((r, ((as(r) * (k % p) + bs(r)) % p) % width))
        }.min
        assert(est >= t, s"undercount for key $k: $est < $t")
      }
    }
  }

  test("pmi associates equal the naive driver recompute on random corpora") {
    val rnd = new scala.util.Random(777)
    val vocab = ('a' to 'j').map(_.toString)
    for (round <- 1 to 3) {
      val docs = Seq.tabulate(30) { i =>
        (i.toLong, Seq.fill(rnd.nextInt(12) + 2)(vocab(rnd.nextInt(vocab.size)))
          .mkString(" "))
      }
      // naive reference: symmetric adjacent co-occurrence, unigram
      // counts, pmi = n/(ct*cu), argmax per t by (pmi desc, u asc)
      val uni = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
      val co = scala.collection.mutable.Map[(String, String), Long]().withDefaultValue(0L)
      docs.foreach { case (_, text) =>
        val ws = text.split(" ")
        ws.foreach(w => uni(w) += 1)
        ws.sliding(2).foreach {
          case Array(a, b2) if a != b2 => co((a, b2)) += 1; co((b2, a)) += 1
          case _ =>
        }
      }
      val expect = co.keys.map(_._1).toSeq.distinct.map { t =>
        val best = co.collect { case ((`t`, u), n) =>
          (u, n, n.toDouble / (uni(t) * uni(u)))
        }.toSeq.minBy { case (u, _, pmi) => (-pmi, u) }
        t -> best
      }.toMap
      val gotRows = {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("t").orderBy(col("pmi").desc, col("u").asc)
        graft.operators.TextAnalysis.pmiAssociates(docs.toDF("doc_id", "text"))
          .withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
          .collect()
          .map(r => r.getString(0) -> ((r.getString(1), r.getLong(2),
            r.getDouble(5)))).toMap
      }
      assert(gotRows.keySet === expect.keySet, s"round $round token sets differ")
      expect.foreach { case (t, (u, n, pmi)) =>
        val (gu, gn, gp) = gotRows(t)
        assert(gu === u && gn === n && gp === pmi, s"round $round token $t")
      }
    }
  }

  /** Reference connected components (driver-side BFS). */
  private def referenceComponents(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val adj = edges.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    val label = scala.collection.mutable.HashMap.empty[Long, Long]
    for (start <- nodes.sorted if !label.contains(start)) {
      // BFS the whole component, label with its min node id
      val comp = scala.collection.mutable.Set(start)
      val queue = scala.collection.mutable.Queue(start)
      while (queue.nonEmpty) {
        val u = queue.dequeue()
        adj.getOrElse(u, Nil).foreach(v => if (comp.add(v)) queue.enqueue(v))
      }
      val m = comp.min
      comp.foreach(n => label(n) = m)
    }
    label.toMap
  }

  test("union-find and label propagation agree with reference BFS on random graphs") {
    val rnd = new scala.util.Random(1234)
    for (trial <- 1 to 4) {
      val n = 10 + rnd.nextInt(30)
      val pairs = Seq.fill(n) {
        val a = rnd.nextInt(25).toLong; val b = rnd.nextInt(25).toLong
        if (a < b) (a, b) else (b, a)
      }.filter(p => p._1 != p._2).distinct
      val expected = referenceComponents(pairs).toSeq.sorted
      val edges = pairs.toDF("ia", "ib")
      val sym = edges.select($"ia".as("src"), $"ib".as("dst"))
        .union(edges.select($"ib", $"ia")).localCheckpoint(true)
      val uf = Dedup.unionFindLocal(spark, sym).collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      val lp = Dedup.labelPropagation(spark, sym).collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      assert(uf === expected, s"union-find diverged on trial $trial: $pairs")
      assert(lp === expected, s"label propagation diverged on trial $trial: $pairs")
    }
  }

  test("TopKPerKey custom operator matches the window formulation on random data") {
    import org.apache.spark.sql.expressions.Window
    val rnd = new scala.util.Random(99)
    // values from a small set (ties, broken by the unique payload), with
    // NaN and null mixed in; one key holds only three rows
    val rows = Seq.fill(500) {
      val value: java.lang.Double = rnd.nextInt(12) match {
        case 0 => null
        case 1 => Double.NaN
        case v => (v % 5).toDouble
      }
      (s"g${rnd.nextInt(7)}", value, rnd.nextLong())
    } ++ Seq.fill(3)(("tiny", java.lang.Double.valueOf(1.0), rnd.nextLong()))
    val key = "spark.sql.adaptive.enabled"
    val prev = spark.conf.get(key)
    try for (aqe <- Seq(true, false); parts <- Seq(1, 3, 7); k <- Seq(1, 5, 600)) {
      spark.conf.set(key, aqe.toString)
      val clue = s"aqe=$aqe parts=$parts k=$k"
      val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, parts))
        .toDF("key", "value", "payload")
      val order = Seq(col("value").desc, col("payload"))
      val fast = graft.plans.TopK.perKey(df, Seq(col("key")), order, k)
        .select("rank", "key", "value", "payload").collect().toSeq
      val windowed = df.withColumn("rank",
          row_number().over(Window.partitionBy("key").orderBy(order: _*)).cast("long"))
        .filter(col("rank") <= k)
        .select("rank", "key", "value", "payload").collect().toSeq
      def sorted(rs: Seq[org.apache.spark.sql.Row]) = rs.map(_.toSeq.mkString("|")).sorted
      assert(sorted(fast) === sorted(windowed), clue)
      // k past a key's size keeps the whole key
      assert(fast.count(_.getString(1) == "tiny") === math.min(k, 3), clue)
    } finally spark.conf.set(key, prev)
  }

  test("native jaccardSorted equals Scala set arithmetic on random arrays") {
    import graft.functions.Vectors.jaccardSorted
    val rnd = new scala.util.Random(42)
    val cases = Seq.fill(50) {
      val a = Seq.fill(rnd.nextInt(30))(rnd.nextInt(40).toLong).distinct.sorted
      val b = Seq.fill(rnd.nextInt(30))(rnd.nextInt(40).toLong).distinct.sorted
      val expected =
        if (a.isEmpty && b.isEmpty) 0.0
        else a.toSet.intersect(b.toSet).size.toDouble / a.toSet.union(b.toSet).size
      (a, b, expected)
    }
    cases.toDF("a", "b", "expected")
      .select(jaccardSorted(col("a"), col("b")).as("j"), col("expected"))
      .collect()
      .foreach(r => assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-12))
  }

  test("salted join equals plain join on skewed random data") {
    val rnd = new scala.util.Random(7)
    // 80% of left rows share one hot key — the regime saltedJoin exists for
    val left = Seq.fill(400)(if (rnd.nextInt(5) > 0) 1L else rnd.nextInt(20).toLong)
      .zipWithIndex.map { case (k, i) => (k, i.toLong) }.toDF("lk", "lv")
    val right = (0L until 20L).map(k => (k, s"r$k")).toDF("rk", "rv")
    val plain = left.join(right, col("lk") === col("rk"))
      .select("lv", "rv").collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    val salted = Relational.saltedJoin(left, right, "lk", "rk", salt = 4)
      .select("lv", "rv").collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(salted === plain)
  }

  test("typed MinHashAgg signatures are bit-identical to the declarative min columns") {
    val rnd = new scala.util.Random(99)
    val hashed = Seq.fill(2000)((rnd.nextInt(40).toLong, rnd.nextLong() & Long.MaxValue))
      .toDF("doc_id", "h")
      // the typed aggregate consumes the mod-P reduced hash, like the
      // production path in minhashPairsUncached
      .select(col("doc_id"), pmod(col("h"), lit(2147483647L)).as("h"))
      .cache()
    val typed = Dedup.minhashFromHashedRows(hashed, 128)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq).toMap
    val decl = Dedup.minhashFromHashedRowsDeclarative(hashed, 128)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq).toMap
    hashed.unpersist()
    assert(typed === decl)
  }

  test("centroidRanks kernel is element-identical to array_sort over literal structs") {
    import graft.operators.Ann
    val rnd = new scala.util.Random(4242)
    val dim = 16
    for (round <- 1 to 3) {
      val nCents = Seq(3, 16, 45)(round - 1)
      val cents = Seq.tabulate(nCents)(c =>
        (c.toLong, Seq.fill(dim)(rnd.nextGaussian())))
      // include exact-centroid vectors (distance 0 rows) and duplicated
      // centroids (forced d-ties → cid tie-break must engage)
      val tied = cents.take(2).map(_._2) ++ Seq(cents.head._2)
      val vecs = (Seq.fill(50)(Seq.fill(dim)(rnd.nextGaussian())) ++ tied)
        .zipWithIndex.map { case (v, i) => (i.toLong, v) }
      val df = vecs.toDF("vec_id", "vec").cache()
      def dump(c: org.apache.spark.sql.Column) =
        df.select(col("vec_id"), c.as("r")).collect()
          .map(r => r.getLong(0) -> r.getSeq[org.apache.spark.sql.Row](1)
            .map(x => (x.getDouble(0), x.getLong(1))).toSeq).toMap
      val kernel = dump(Ann.rankedCentroids(col("vec"), cents))
      val literal = dump(array_sort(Ann.centroidStructs(col("vec"), cents)))
      df.unpersist()
      assert(kernel === literal, s"round $round (nCents=$nCents)")
    }
  }

  test("joint subspace k-means equals m sequential per-slice Lloyd's fits") {
    import graft.operators.Ann
    val rnd = new scala.util.Random(77)
    val (m, sub, k, iters) = (4, 3, 5, 3)
    val dim = m * sub
    // 60 vectors incl. duplicated rows (empty-cluster carry-over path)
    val base = Seq.fill(55)(Seq.fill(dim)(rnd.nextGaussian()))
    val vecs = (base ++ base.take(5)).zipWithIndex
      .map { case (v, i) => (i.toLong, v) }
    val df = vecs.toDF("vec_id", "vec").cache()
    try {
      val joint = Ann.kmeansSubspaces(df, m, sub, k, iters).toMap
      for (j <- 0 until m) {
        val sliced = df.select(col("vec_id"),
          slice(col("vec"), j * sub + 1, sub).as("vec"))
        val seq = Ann.kmeansCentroids(sliced, k, iters)
        assert(joint(j) === seq, s"subspace $j diverged")
      }
    } finally df.unpersist()
  }

  test("centroidDistById kernel matches l2Distance against the named centroid") {
    val rnd = new scala.util.Random(515)
    val dim = 8
    val cents = Seq.tabulate(5)(c => (c.toLong, Seq.fill(dim)(rnd.nextGaussian())))
    val rows = Seq.tabulate(40)(i =>
      (i.toLong, Seq.fill(dim)(rnd.nextGaussian()), (i % 7).toLong)) // ids 5,6 unknown
    val df = rows.toDF("vec_id", "vec", "cid")
    val got = df.select(col("vec_id"),
        graft.functions.Vectors.centroidDistById(col("vec"), col("cid"), cents).as("d"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    rows.foreach { case (id, v, cid) =>
      val expect = cents.find(_._1 == cid) match {
        case Some((_, cv)) =>
          math.sqrt(v.zip(cv).map { case (a, b) => (a - b) * (a - b) }.sum)
        case None => Double.NaN
      }
      val g = got(id)
      assert((g.isNaN && expect.isNaN) || g === expect, s"vec $id cid $cid")
    }
  }

  test("fused feature-hash embed kernel is bit-identical to the declarative explode+agg") {
    import graft.operators.VectorStore
    // real corpus plus adversarial tokenization edges: empty text,
    // all-space, leading/interior/trailing spaces, multi-byte UTF-8
    val edge = Seq(
      (900001L, ""), (900002L, " "), (900003L, "  "),
      (900004L, " a"), (900005L, "a "), (900006L, "a  b "),
      (900007L, "naïve café 日本語 emoji🙂 mix"), (900008L, "x")
    ).toDF("doc_id", "text")
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
      .unionByName(edge).cache()
    def toMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toSeq).toMap
    val fused = toMap(VectorStore.embedDocs(docs))
    val decl = toMap(VectorStore.embedDocsDeclarative(docs))
    docs.unpersist()
    assert(fused.keySet === decl.keySet)
    fused.foreach { case (id, v) =>
      // bit-exact (same murmur3, same order-free ±1 sums, same divide);
      // NaN-normalized all-space docs compare as NaN==NaN via toString
      assert(v.map(_.toString) === decl(id).map(_.toString), s"doc $id")
    }
    // zero shuffles in the fused plan — the whole embed is map-side
    val plan = VectorStore.embedDocs(docs).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"fused embed still exchanges:\n$plan")
  }

  test("q21 single-aggregation collapse equals the classic semi+anti join formulation") {
    val li = Tables.lineitem(spark, sf)
      .join(Tables.orders(spark, sf), col("l_orderkey") === col("o_orderkey"))
      .select(col("l_orderkey").as("ok"), col("l_suppkey").as("sk"),
        (col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS")).as("late"))
      .cache()
    // EXISTS another supplier on the order, NOT EXISTS another LATE supplier
    val l1 = li.filter(col("late")).select("ok", "sk").distinct()
    val others = li.select(col("ok").as("ok2"), col("sk").as("sk2")).distinct()
    val classic = l1
      .join(others, col("ok") === col("ok2") && col("sk") =!= col("sk2"), "left_semi")
      .join(li.filter(col("late")).select(col("ok").as("ok3"), col("sk").as("sk3")).distinct(),
        col("ok") === col("ok3") && col("sk") =!= col("sk3"), "left_anti")
      .groupBy("sk").agg(count(lit(1)).as("numwait"))
      .join(Tables.supplier(spark, sf), col("sk") === col("s_suppkey"))
      .select("s_name", "numwait")
      .orderBy(col("numwait").desc, col("s_name")).limit(20)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val collapsed = Relational.q21WaitingSupplier(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    li.unpersist()
    assert(collapsed === classic)
  }

  test("basket-pair mining equals the naive distinct + self-join formulation on random baskets") {
    val rnd = new scala.util.Random(99)
    for (trial <- 1 to 3) {
      val items = Seq.fill(300 + rnd.nextInt(200)) {
        (rnd.nextInt(60).toLong, (rnd.nextInt(15) + 1).toLong) // (ok, pk), dup-prone
      }
      val df = items.toDF("ok", "pk")
      val fast = Relational.basketPairsOf(df, minSupport = 2, topN = 1000)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      // naive: distinct items, self-join on ok, count distinct orders
      val dist = items.distinct
      val byOk = dist.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      val naive = byOk.values.flatMap { b =>
        b.toSeq.sorted.combinations(2).map(p => (p(0), p(1)))
      }.groupBy(identity).view.mapValues(_.size.toLong).toMap
        .filter(_._2 >= 2).map { case ((a, b), n) => (a, b, n) }.toSet
      assert(fast === naive, s"trial $trial diverged")
    }
  }

  test("DistributedRank equals the single-task window formulation on random data") {
    // the shared range-partition + broadcast-offsets utility behind
    // parts_abc_analysis / text_ccnet_buckets (VERDICT r4 #10): ranks,
    // group totals, and exact prefix sums must match SQL window
    // semantics on EVERY input, including duplicate order keys, empty
    // groups, and groups smaller than the partition count
    import org.apache.spark.sql.expressions.Window
    val rnd = new scala.util.Random(777)
    for (trial <- 1 to 3) {
      val rows = (1L to (50 + rnd.nextInt(150))).map { id =>
        (id, s"g${rnd.nextInt(4)}",
          BigDecimal(rnd.nextInt(500)).setScale(4) / 100, // forces ties
          rnd.nextInt(20).toLong)
      }
      val df = rows.toDF("id", "grp", "v", "x")
        .withColumn("v", col("v").cast("decimal(18,4)")).repartition(5)
      // rowNumber vs window row_number + count
      val gotR = graft.operators.DistributedRank.rowNumber(df, Seq("grp"),
          Seq(col("v").asc, col("id").asc), "rnk", "n_grp")
        .select("id", "rnk", "n_grp").collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      val wg = Window.partitionBy("grp").orderBy(col("v").asc, col("id").asc)
      val expR = df.withColumn("rnk", row_number().over(wg).cast("long"))
        .withColumn("n_grp", count(lit(1)).over(Window.partitionBy("grp")))
        .select("id", "rnk", "n_grp").collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(gotR === expR, s"rowNumber trial $trial diverged")
      // prefixSumDecimal vs unbounded-preceding window sum
      val (cum, total) = graft.operators.DistributedRank.prefixSumDecimal(
        df, "v", Seq(col("v").desc, col("id").asc), "cum")
      val gotP = cum.select("id", "cum").collect()
        .map(r => r.getLong(0) -> r.getDecimal(1).stripTrailingZeros).toMap
      val wp = Window.orderBy(col("v").desc, col("id").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val expP = df.withColumn("cum", sum("v").over(wp))
        .select("id", "cum").collect()
        .map(r => r.getLong(0) -> r.getDecimal(1).stripTrailingZeros).toMap
      assert(gotP === expP, s"prefixSum trial $trial diverged")
      assert(total === rows.map(_._3).sum, s"total trial $trial diverged")
    }
  }

  test("two-phase skyline sweep equals brute-force domination on random point sets") {
    val rnd = new scala.util.Random(4242)
    for (trial <- 1 to 4) {
      // small value ranges force ties on each dim and exact duplicates —
      // the mutual-non-domination edge cases the sweep must keep
      val pts = (1L to (40 + rnd.nextInt(60))).map { id =>
        (id, (rnd.nextInt(8) + 1).toDouble, (rnd.nextInt(8) + 1).toLong)
      }
      def dominated(p: (Long, Double, Long)) = pts.exists { q =>
        q._2 <= p._2 && q._3 <= p._3 && (q._2 < p._2 || q._3 < p._3)
      }
      val expect = pts.filterNot(dominated).map(_._1).toSet
      val got = Relational.skylineOf(pts.toDS().repartition(3))
        .collect().map(_._1).toSet
      assert(got === expect, s"trial $trial diverged")
    }
  }
}
