package perfbench

import graft.Tables
import graft.api.QueryRequest
import graft.operators.VectorStore

import java.util.SplittableRandom
import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer

/** A stored point of the collection, as the benchmark's reference copy. */
final case class Point(id: Long, vec: Array[Double], user: Long, site: String,
                       lang: String, text: String)

object Point {
  /** The collected `Tables.points` collection, sorted by id. */
  def collect(ctx: Ctx, dir: String): Array[Point] =
    Tables.points(ctx.spark, dir)
      .select("id", "vector", "user_id", "site", "lang", "text")
      .collect().map { r =>
        Point(r.getLong(0), r.getSeq[Double](1).toArray, r.getLong(2),
          r.getString(3), r.getString(4), r.getString(5))
      }.sortBy(_.id)
}

/** `tenant_search`: a closed-loop session of `/points/query` wire
  * requests through `VectorStore.pointsQuery`, served from warm
  * artifacts. Each request asks for the nearest points to a stored
  * point's vector plus seeded noise, filtered `must` on that point's
  * tenant (`user_id`); half add `site` and/or `lang` conditions.
  * Every answer is checked against an exhaustive driver-side scan.
  */
final class TenantSearch(ctx: Ctx) extends Workload {
  import TenantSearch._

  val fillName = "payload_index_fill"
  private var dir: String = _
  private var corpus: Array[Point] = _
  private var warmStream: Array[Req] = _
  private var stream: Array[Req] = _
  private var next = 0

  def setupRep(rep: Int): (Double, Double) = {
    // a fresh copy of the tables per repetition: graft's artifacts are
    // memoized per dataset directory, so each copy fills them anew. The
    // memo keeps the retired copies' entries for the whole run (no
    // public call drops them): about 3 MB of retained_heap_mb
    val d = ctx.work.resolve(s"data-$rep")
    Util.copyDir(ctx.data, d)
    dir = d.toString
    val scan = Workload.warmScan(ctx, dir)
    // the first filtered request builds the serving payload index
    val (_, fill) = Workload.timed {
      VectorStore.pointsQuery(ctx.spark, dir, fillRequest).collect()
    }
    (scan, fill)
  }

  def prepare(): ListMap[String, Any] = {
    corpus = Point.collect(ctx, dir)
    val rng = new SplittableRandom(ctx.seed)
    warmStream = requests(MaxWarmBlocks * Shapes.size, rng, corpus)
    stream = requests(StreamLen, rng, corpus)
    Util.obj("stream_requests" -> stream.length, "warmup_requests" -> warmStream.length,
      "stream_sha256" -> Util.sha256((warmStream ++ stream).iterator.map(_.json)),
      "collection_points" -> corpus.length)
  }

  private def one(r: Req, phase: String): Unit = {
    val runner = ctx.runner
    if (runner.tracing && phase != "warmup") {
      // parse timed on its own, outside the op, so the op itself
      // carries no extra work: build_ms = pointsQuery time - parse
      val t0 = System.nanoTime(); QueryRequest.fromJson(r.json)
      runner.spans += Span("api.parse", t0, System.nanoTime(), runner.nextOpId)
    }
    runner.run("search", phase) {
      val df = runner.span("operators.build")(VectorStore.pointsQuery(ctx.spark, dir, r.json))
      runner.span("action.collect")(df.select("id", "score").collect()
        .map(row => (row.getLong(0), row.getDouble(1))).toSeq)
    }(got => {
      val want = expected(r, corpus)
      if (got == want) None else Some(s"request ${r.json.take(80)}… got $got want $want")
    }, rows = _.size.toLong,
      corrupt = Some((hits: Seq[(Long, Double)]) =>
        if (hits.isEmpty) Seq((-1L, 0.0)) else hits.init))
  }

  /** Untimed warm-up, in blocks of one request of every shape, until a
    * block's median latency has fallen by less than `SteadyDrop` from
    * the block before (at most `MaxWarmBlocks` blocks). The report
    * records each block's median and whether the warm-up ended steady.
    */
  def warmup(): ListMap[String, Any] = {
    val blocks = warmStream.grouped(Shapes.size).toSeq
    val p50s = ArrayBuffer.empty[Double]
    def steady = p50s.size >= 2 && p50s.last > (1 - SteadyDrop) * p50s(p50s.size - 2)
    val (_, s) = Workload.timed {
      while (p50s.size < blocks.size && !steady) {
        val first = ctx.runner.ops.size
        blocks(p50s.size).foreach(one(_, "warmup"))
        p50s += Util.median(ctx.runner.ops.drop(first).filter(_.ok).map(_.ms).toSeq)
      }
    }
    Util.obj("warmup_requests" -> p50s.size * Shapes.size, "warmup_s" -> s,
      "warmup_block_p50_ms" -> p50s.toSeq, "warmup_steady" -> steady)
  }

  /** A fixed number of requests for the time given (`RequestsPerSecond`
    * of them per second), so every run, fast or slow, serves the same
    * requests.
    */
  def measure(seconds: Double, phase: String): Unit = {
    val end = math.min(stream.length, next + math.max(1, math.round(seconds * RequestsPerSecond).toInt))
    while (next < end) { one(stream(next), phase); next += 1 }
  }

  def headline(ops: Seq[OpRecord]): Seq[Double] = Workload.latency(ops, "search")

  def metrics(ops: Seq[OpRecord]): ListMap[String, Double] = {
    val l = Workload.latency(ops, "search")
    ListMap("search_p50_ms" -> Util.median(l), "search_p90_ms" -> Util.quantile(l, 0.90),
      "search_p95_ms" -> Util.quantile(l, 0.95),
      "search_mean_ms" -> Util.mean(l), "search_n" -> l.size.toDouble)
  }
}

object TenantSearch {
  final case class Req(json: String, user: Long, site: Option[String],
                       lang: Option[String], k: Int, q: Array[Double])

  /** Requests per second asked for. A request takes about 250 ms on 4
    * cores, so the timed phase runs about 1.25 times the seconds asked.
    */
  val RequestsPerSecond = 5.0
  val StreamLen = 3000
  /** Warm-up ends once a block's median falls by less than this share. */
  val SteadyDrop = 0.1
  val MaxWarmBlocks = 4

  private val fillRequest =
    """{"query": {"nearest": 0}, "filter": {"must": [{"key": "user_id", "match": {"value": 0}}]}, "limit": 5}"""

  /** Request shapes: (site condition, lang condition, limit). Half
    * are tenant-only, as in the reference's filtered search.
    */
  val Shapes: IndexedSeq[(Boolean, Boolean, Int)] = for {
    (site, lang) <- IndexedSeq((false, false), (false, false), (false, false),
      (true, false), (false, true), (true, true))
    k <- IndexedSeq(5, 10, 20)
  } yield (site, lang, k)

  /** `n` requests. The seed picks every anchor point, its noise, and the
    * order of shapes within each block of `Shapes.size` requests; every
    * block holds each shape once, so a short run's mix of filters and
    * limits does not depend on the seed.
    */
  def requests(n: Int, rng: SplittableRandom, corpus: Array[Point]): Array[Req] = {
    val out = Array.newBuilder[Req]
    var made = 0
    while (made < n) {
      val block = Shapes.toArray
      for (i <- block.indices.reverse) { // Fisher-Yates
        val j = rng.nextInt(i + 1); val t = block(i); block(i) = block(j); block(j) = t
      }
      block.take(n - made).foreach { case (site, lang, k) => out += gen(site, lang, k, rng, corpus) }
      made += block.length
    }
    out.result()
  }

  def gen(withSite: Boolean, withLang: Boolean, k: Int, rng: SplittableRandom,
          corpus: Array[Point]): Req = {
    val p = corpus(rng.nextInt(corpus.length))
    val q = p.vec.map(x => x + 0.02 * rng.nextGaussian())
    val site = if (withSite) Some(p.site) else None
    val lang = if (withLang) Some(p.lang) else None
    def cond(key: String, v: String) = s"""{"key": "$key", "match": {"value": $v}}"""
    val must = Seq(cond("user_id", p.user.toString)) ++
      site.map(s => cond("site", "\"" + s + "\"")) ++ lang.map(l => cond("lang", "\"" + l + "\""))
    val json = s"""{"query": {"nearest": [${q.map(java.lang.Double.toString).mkString(", ")}]}, """ +
      s""""filter": {"must": [${must.mkString(", ")}]}, "limit": $k}"""
    Req(json, p.user, site, lang, k, q)
  }

  /** graft's cosine kernel, term for term (corpus vector first). */
  def cosine(x: Array[Double], y: Array[Double]): Double = {
    var s = 0.0; var sa = 0.0; var sb = 0.0; var i = 0
    while (i < x.length) {
      s += x(i) * y(i); sa += x(i) * x(i); sb += y(i) * y(i); i += 1
    }
    s / (math.sqrt(sa) * math.sqrt(sb))
  }

  /** SQL `round(x, 4)` on a double: half-up on the shortest decimal. */
  def round4(d: Double): Double =
    java.math.BigDecimal.valueOf(d).setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()

  /** Exhaustive answer: filter, score every candidate, order by
    * (score desc, id asc), keep `k`.
    */
  def expected(r: Req, corpus: Array[Point]): Seq[(Long, Double)] =
    corpus.iterator
      .filter(p => p.user == r.user && r.site.forall(_ == p.site) && r.lang.forall(_ == p.lang))
      .map(p => (p.id, round4(cosine(p.vec, r.q))))
      .toSeq.sortBy { case (id, s) => (-s, id) }.take(r.k)
}
