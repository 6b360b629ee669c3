package graft

import org.apache.spark.sql.graft._
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SQL surface for the native vector expressions:
  *
  * {{{
  *   SparkSession.builder()
  *     .config("spark.sql.extensions", "graft.GraftExtensions")
  *   ...
  *   SELECT graft_cosine(a.vec, b.vec) FROM ...
  * }}}
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, clazz: Class[_]): ExpressionInfo =
    new ExpressionInfo(clazz.getName, name)

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((FunctionIdentifier("graft_dot"),
      info("graft_dot", classOf[DotProduct]),
      (args: Seq[Expression]) => DotProduct(args(0), args(1))))
    ext.injectFunction((FunctionIdentifier("graft_l2"),
      info("graft_l2", classOf[L2Distance]),
      (args: Seq[Expression]) => L2Distance(args(0), args(1))))
    ext.injectFunction((FunctionIdentifier("graft_l1"),
      info("graft_l1", classOf[L1Distance]),
      (args: Seq[Expression]) => L1Distance(args(0), args(1))))
    ext.injectFunction((FunctionIdentifier("graft_cosine"),
      info("graft_cosine", classOf[CosineSimilarity]),
      (args: Seq[Expression]) => CosineSimilarity(args(0), args(1))))
    ext.injectFunction((FunctionIdentifier("graft_norm"),
      info("graft_norm", classOf[L2Norm]),
      (args: Seq[Expression]) => L2Norm(args(0))))
    ext.injectFunction((FunctionIdentifier("graft_normalize"),
      info("graft_normalize", classOf[Normalize]),
      (args: Seq[Expression]) => Normalize(args(0))))
    ext.injectFunction((FunctionIdentifier("graft_hamming_sign"),
      info("graft_hamming_sign", classOf[HammingSign]),
      (args: Seq[Expression]) => HammingSign(args(0), args(1))))
    ext.injectFunction((FunctionIdentifier("graft_sign_pack"),
      info("graft_sign_pack", classOf[SignPack]),
      (args: Seq[Expression]) => SignPack(args(0))))
    ext.injectFunction((FunctionIdentifier("graft_hamming_packed"),
      info("graft_hamming_packed", classOf[HammingPacked]),
      (args: Seq[Expression]) => HammingPacked(args(0), args(1))))
    ext.injectFunction((FunctionIdentifier("graft_embed"),
      info("graft_embed", classOf[FeatureHashEmbed]),
      (args: Seq[Expression]) => FeatureHashEmbed(args(0),
        args(1).eval().asInstanceOf[Number].intValue())))
    ext.injectFunction((FunctionIdentifier("graft_jaccard"),
      info("graft_jaccard", classOf[JaccardSorted]),
      (args: Seq[Expression]) => JaccardSorted(args(0), args(1))))
    // whole-operator plan: TopKPerKey (partial-heap → exchange → final-heap)
    ext.injectPlannerStrategy(_ => org.apache.spark.sql.graft.plans.TopKPerKeyStrategy)
    // whole-operator plan: RankedTopK (partition top-k → one ranked merge)
    ext.injectPlannerStrategy(_ => org.apache.spark.sql.graft.plans.RankedTopKStrategy)
    // TABLE function: the WHOLE query inventory from SQL —
    //   SELECT * FROM graft_query('q1_pricing_summary', '/data/sf')
    // resolves to the named operator's logical plan over that dataset
    // dir, so a SQL-only client runs every reference-parity query with
    // no Scala. Args must be literals (they select the plan, they
    // don't flow through it).
    // ANALYSIS-TIME GUARDRAIL (opt-in: spark.graft.strictJoins=true):
    // reject the accidental-cartesian pattern — an INNER join with no
    // condition and no broadcast-hinted side — at submission, before a
    // 100-TB cluster discovers it the expensive way. Deliberate shapes
    // stay legal: an explicit `crossJoin` (JoinType Cross says "I meant
    // it") and the hinted broadcast-nested-loop idiom (tiny side
    // replicated — the batched-search shape every operator here uses).
    // This is PlanAudit's cartesian lint promoted from report to gate.
    ext.injectCheckRule { session => plan =>
      import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, Join, LogicalPlan, ResolvedHint, SHUFFLE_REPLICATE_NL}
      import org.apache.spark.sql.catalyst.plans.Inner
      // a hint only blesses THIS join if it sits on the join side
      // itself — recursion stops at nested Joins, so a broadcast deep
      // inside one arm can't silently bless an unrelated outer product.
      // Strategies that count: BROADCAST (the replicated-small-side
      // batched-search shape) and SHUFFLE_REPLICATE_NL (the sanctioned
      // Spark idiom for a DELIBERATE large-large cartesian — its whole
      // purpose is the product, so it is an explicit opt-in, not an
      // accident). MERGE/SHUFFLE_HASH do NOT: equi-join strategies need
      // keys, so on a condition-less inner join they still plan an
      // accidental product.
      def deliberateHinted(p: LogicalPlan): Boolean = p match {
        case h: ResolvedHint => h.hints.strategy.contains(BROADCAST) ||
          h.hints.strategy.contains(SHUFFLE_REPLICATE_NL)
        case _: Join => false
        case other => other.children.exists(deliberateHinted)
      }
      def broadcastHinted(p: LogicalPlan): Boolean = deliberateHinted(p)
      if (session.conf.getOption("spark.graft.strictJoins").contains("true")) {
        plan.foreach {
          case j @ Join(left, right, Inner, None, _)
              if !broadcastHinted(left) && !broadcastHinted(right) =>
            throw new org.apache.spark.sql.AnalysisException(
              "USER_RAISED_EXCEPTION",
              Map("errorMessage" ->
                ("spark.graft.strictJoins: condition-less INNER join would plan a " +
                  "cartesian/nested-loop product. Add a join condition, broadcast() " +
                  "a small side, or write crossJoin() if the product is intended.")),
              None)
          case _ =>
        }
      }
    }
    ext.injectTableFunction((FunctionIdentifier("graft_query"),
      new ExpressionInfo(classOf[SparkEntry.type].getName, "graft_query"),
      (args: Seq[Expression]) => {
        require(args.length == 2 || args.length == 3,
          s"graft_query(name, dir[, params]) takes 2-3 literal args, got ${args.length}")
        def lit(e: Expression, what: String): String = e.eval() match {
          case s: org.apache.spark.unsafe.types.UTF8String => s.toString
          case other => throw new IllegalArgumentException(
            s"graft_query $what must be a string literal, got $other")
        }
        val name = lit(args(0), "name")
        val dir = lit(args(1), "dir")
        // optional literal parameter map — `map('k','5','tau','0.1')` or
        // the compact string form 'k=5,tau=0.1'. The TVF builder runs
        // BEFORE analysis, so map(...) arrives as an UnresolvedFunction
        // over literals and is unpacked structurally.
        val params: Map[String, String] = if (args.length < 3) Map.empty
        else args(2) match {
          case e if e.foldable &&
              e.dataType.isInstanceOf[org.apache.spark.sql.types.MapType] =>
            val mt = e.dataType.asInstanceOf[org.apache.spark.sql.types.MapType]
            require(mt.keyType == org.apache.spark.sql.types.StringType &&
              mt.valueType == org.apache.spark.sql.types.StringType,
              s"graft_query params map must be map<string,string>, got ${mt.sql}")
            val md = e.eval().asInstanceOf[org.apache.spark.sql.catalyst.util.MapData]
            (0 until md.numElements()).map { i =>
              md.keyArray().getUTF8String(i).toString ->
                md.valueArray().getUTF8String(i).toString
            }.toMap
          case e if e.foldable =>
            lit(e, "params").split(",").filter(_.nonEmpty).map { kv =>
              val i = kv.indexOf('=')
              require(i > 0, s"graft_query params entry '$kv' is not k=v")
              kv.substring(0, i).trim -> kv.substring(i + 1).trim
            }.toMap
          case other => throw new IllegalArgumentException(
            s"graft_query params must be a literal map(...) or 'k=v,…' string, got $other")
        }
        val session = org.apache.spark.sql.SparkSession.active
        val queries = SparkEntry.sqlQueries
        val fn = queries.getOrElse(name,
          throw new IllegalArgumentException(s"unknown graft query '$name' — " +
            s"valid names: ${queries.keys.toSeq.sorted.take(8).mkString(", ")}…"))
        fn(session, dir, params).queryExecution.logical
      }))
  }
}
