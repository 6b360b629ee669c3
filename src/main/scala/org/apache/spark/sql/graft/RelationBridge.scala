package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Project}
import org.apache.spark.sql.classic.{Dataset, SparkSession => ClassicSession}
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.sources.BaseRelation

/** Public bridge over the private[sql] `Dataset.ofRows`: a filtered
  * read of a resolved relation as one analyzed plan.
  */
object RelationBridge {
  /** `columns` of `relation`'s rows where `condition` holds, analyzed
    * once as `Project(columns, Filter(condition, relation))`. Each call
    * reads the relation under fresh attribute ids, as
    * `SparkSession.baseRelationToDataFrame` does.
    */
  def filtered(spark: SparkSession, relation: BaseRelation, condition: Column,
               columns: Seq[Column]): DataFrame = {
    val s = spark.asInstanceOf[ClassicSession]
    Dataset.ofRows(s, Project(columns.map(ColumnBridge.named(s, _)),
      Filter(s.expression(condition), LogicalRelation(relation))))
  }
}
