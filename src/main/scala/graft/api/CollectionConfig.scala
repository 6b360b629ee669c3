package graft.api

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Vectors

/** Qdrant `create_collection` as DATA — the last client call of the
  * reference's own flow with no wire form (insert.py:70-73 and
  * test_qdrant.py:106-131 create collections with
  * `VectorParams(size, distance)` and `InitFrom(collection)` before any
  * upsert). [[fromJson]] parses the request body under the
  * [[Filters.fromJson]] loud-refusal discipline; [[create]] dispatches
  * onto the existing collection model ([[VectorIndex]]):
  *
  *  - `vectors`: a single unnamed `{size, distance}` or the named map
  *    `{name: {size, distance}, …}` — the unnamed head is the `vector`
  *    column, each named head its own array column (the named-vectors
  *    model). `distance` is one of the four served metrics (Cosine /
  *    Euclid / Dot / Manhattan — the engine's proven kernels);
  *    [[Config.metric]] yields the DISTANCE column expression
  *    [[VectorIndex!.search]] ranks ascending by (cosine → 1 − cos,
  *    dot → −a·b — Qdrant's own score-to-distance readings).
  *  - `init_from`: the new collection STARTS as a copy of another
  *    collection's points (the reference's index-update flow: create
  *    from the old index, then add the new batch). The caller resolves
  *    the name to a handle — storage naming is the deployment's
  *    concern, as with `lookup_from`.
  *  - `shard_number`: becomes the bucket count hint for
  *    [[VectorIndex!.save]] (the engine's shards are id-hash buckets).
  *  - Unserved members (`hnsw_config`, `quantization_config`,
  *    `sparse_vectors`, replication/consistency knobs …) REFUSE with a
  *    pointer: HNSW's role is served by the IVF/graph artifacts
  *    ([[AnnIndex]]/[[GraphIndex]]), quantization by the build-time
  *    tiers, sparse vectors by [[HybridIndex]] — a config member that
  *    silently does nothing would misrepresent the serving shape.
  *
  * Dimension checks are BUILD-TIME jobs, not serving overhead:
  * [[Config.validate]] is one column-pruned aggregate over the batch
  * asserting every declared head's non-null vectors carry the declared
  * size ([[create]] runs it on the init_from points; run it per upsert
  * batch where ingest is untrusted).
  */
object CollectionConfig {

  /** One head's declared geometry. */
  final case class VectorParams(size: Int, distance: String) {
    require(size >= 1, s"vector size must be positive (got $size)")
    require(Distances.contains(distance),
      s"unknown distance '$distance' — served: " +
        Distances.toSeq.sorted.mkString("/"))
  }

  /** The parsed create request. `vectors` keys name head COLUMNS; the
    * unnamed single-head form uses [[DefaultHead]].
    */
  final case class Config(vectors: Map[String, VectorParams],
                          initFrom: Option[String],
                          shardNumber: Option[Int]) {

    /** The ranking DISTANCE expression for a head (ascending order ≡
      * Qdrant's score order for that metric).
      */
    def metric(head: String = DefaultHead): (Column, Column) => Column = {
      val p = vectors.getOrElse(head, throw new IllegalArgumentException(
        s"collection declares no vector head '$head' — declared: " +
          vectors.keys.toSeq.sorted.mkString("/")))
      p.distance match {
        case "Cosine" => (a, b) => lit(1.0) - Vectors.cosineSim(a, b)
        case "Euclid" => (a, b) => Vectors.l2Distance(a, b)
        case "Manhattan" => (a, b) => Vectors.l1Distance(a, b)
        case "Dot" => (a, b) => -Vectors.dot(a, b)
      }
    }

    /** Column name of a declared head. */
    def columnOf(head: String): String =
      if (head == DefaultHead) "vector" else head

    /** Assert `df` carries every declared head column and that each
      * head's non-null vectors all have the declared size — ONE
      * column-pruned aggregate job over the batch (build-time cost;
      * vectors never shuffle).
      */
    def validate(df: DataFrame): Unit = {
      val missing = vectors.keys.map(columnOf).filterNot(df.columns.contains)
      require(missing.isEmpty,
        s"batch is missing declared vector columns ${missing.toSeq.sorted}")
      val vseq = vectors.toSeq
      val checks = vseq.flatMap { case (head, _) =>
        val c = col(columnOf(head))
        Seq(min(when(c.isNotNull, size(c))).as(s"__min_$head"),
          max(when(c.isNotNull, size(c))).as(s"__max_$head"))
      }
      val row = df.agg(checks.head, checks.tail: _*).collect().head
      vseq.zipWithIndex.foreach { case ((head, p), i) =>
        if (!row.isNullAt(2 * i)) {
          val (lo, hi) = (row.getInt(2 * i), row.getInt(2 * i + 1))
          require(lo == p.size && hi == p.size,
            s"head '$head' declares size ${p.size} but the batch carries " +
              s"vectors of size $lo..$hi")
        }
      }
    }
  }

  /** The key of the single unnamed head (`vectors: {size, distance}`). */
  val DefaultHead: String = ""

  private val Distances = Set("Cosine", "Euclid", "Dot", "Manhattan")

  import com.fasterxml.jackson.databind.JsonNode
  import scala.jdk.CollectionConverters._

  private def fail(msg: String): Nothing =
    throw new IllegalArgumentException(msg)

  private def fieldNames(n: JsonNode): Seq[String] =
    n.fieldNames().asScala.toSeq

  private def paramsOf(n: JsonNode, ctx: String): VectorParams = {
    require(n.isObject, s"$ctx must be a {size, distance} object: $n")
    val extra = fieldNames(n).filterNot(Set("size", "distance"))
    require(extra.isEmpty,
      s"unknown $ctx keys $extra — served: size/distance (hnsw_config/" +
        "quantization_config/on_disk are index-build concerns: " +
        "AnnIndex/GraphIndex and the quantization tiers)")
    val sz = QueryRequest.intAtLeast(n.get("size"), 1, s"$ctx size")
    val dist = n.get("distance")
    require(dist != null && dist.isTextual, s"$ctx distance must be a string: $n")
    VectorParams(sz, dist.asText())
  }

  /** Parse a `create_collection` request body. */
  def fromJson(json: String): Config = {
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
    require(root != null && root.isObject,
      s"create_collection JSON must be an object: $json")
    val known = Set("vectors", "init_from", "shard_number")
    val unknown = fieldNames(root).filterNot(known)
    require(unknown.isEmpty,
      s"unknown create_collection keys $unknown — served: " +
        s"${known.toSeq.sorted.mkString("/")} (sparse_vectors is " +
        "HybridIndex; hnsw/quantization/optimizer configs are the " +
        "index-build artifacts; replication/consistency are " +
        "ReplicaPlanner's deployment surface)")
    val v = root.get("vectors")
    require(v != null && v.isObject, "create_collection needs a 'vectors' config")
    val vectors =
      if (v.has("size") || v.has("distance")) Map(DefaultHead -> paramsOf(v, "vectors"))
      else {
        val heads = fieldNames(v)
        require(heads.nonEmpty, "named vectors config must declare at least one head")
        heads.map(h => h -> paramsOf(v.get(h), s"vectors.$h")).toMap
      }
    val init = Option(root.get("init_from")).map {
      case i if i.isTextual => i.asText()
      case i if i.isObject =>
        val extra = fieldNames(i).filterNot(Set("collection"))
        require(extra.isEmpty, s"unknown init_from keys $extra")
        val c = i.get("collection")
        require(c != null && c.isTextual,
          s"init_from.collection must be a string: $i")
        c.asText()
      case other => fail(
        s"init_from must be a collection name or {collection: …}: $other")
    }
    val shards = Option(root.get("shard_number"))
      .map(QueryRequest.intAtLeast(_, 1, "shard_number"))
    Config(vectors, init, shards)
  }

  /** Create a collection from a parsed config — the reference's create
    * flow: the collection starts as `init_from`'s points (the caller
    * resolves the config's collection NAME to the handle) or empty,
    * and the client then [[VectorIndex!.upsert]]s batches onto it
    * (test_qdrant.py:128-134 — create with init_from, add the new
    * docs). The init points are [[Config.validate]]d against the
    * declared heads; `config.initFrom` and the handle must agree (a
    * config naming a source with no handle would silently create
    * empty — the wrong collection).
    */
  def create(spark: SparkSession, config: Config,
             initFrom: Option[VectorIndex] = None): VectorIndex = {
    require(config.initFrom.isDefined == initFrom.isDefined,
      s"config init_from (${config.initFrom}) and the resolved handle " +
        s"(${initFrom.map(_ => "provided").getOrElse("absent")}) must agree")
    initFrom match {
      case Some(src) =>
        config.validate(src.points)
        VectorIndex(src.points)
      case None =>
        import org.apache.spark.sql.types._
        val extras = config.vectors.keys.filterNot(_ == DefaultHead).toSeq.sorted
          .map(h => StructField(h, ArrayType(DoubleType), nullable = true))
        val schema = StructType(Seq(
          StructField("id", LongType, nullable = false),
          StructField("vector", ArrayType(DoubleType), nullable = true),
          StructField("text", StringType, nullable = true),
          StructField("user_id", LongType, nullable = false),
          StructField("site", StringType, nullable = true),
          StructField("lang", StringType, nullable = true),
          StructField("seq", LongType, nullable = false)) ++ extras)
        VectorIndex(spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema))
    }
  }
}
