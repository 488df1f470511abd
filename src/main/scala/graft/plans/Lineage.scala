package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.execution.datasources.LogicalRelation

/** Column-level lineage from the ANALYZED logical plan: which source
  * table columns feed each output column. This is plan introspection,
  * not execution — the same Catalyst tree the optimizer consumes is a
  * governance artifact (impact analysis: "what breaks if orders.amount
  * changes type"; audit: "which outputs depend on PII columns"), and
  * deriving it from the plan instead of hand-maintained docs means it
  * can never drift from the code.
  *
  * Mechanics: a bottom-up fold mapping every attribute's `exprId` to its
  * set of source columns. File relations seed `table.column` (table =
  * the file's basename); Project/Aggregate/Window alias nodes union the
  * sources of every attribute their expression references (including
  * lambda-nested and aggregate-nested references); all other nodes pass
  * attribution through. Filter/join/sort CONDITIONS deliberately do not
  * taint outputs — this is data lineage (what values flow), not control
  * lineage.
  */
object Lineage {

  type Sources = Map[Long, Set[String]]

  private def tableName(rel: LogicalRelation): String = {
    val path = rel.relation match {
      case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
        fs.location.rootPaths.headOption.map(_.getName).getOrElse("unknown")
      case _ => "unknown"
    }
    // "orders.parquet" → "orders"
    path.replaceAll("\\.[A-Za-z0-9]+$", "")
  }

  private def refs(e: Expression, below: Sources): Set[String] =
    e.references.toSeq.flatMap(a => below.getOrElse(a.exprId.id, Set.empty))
      .toSet

  private def fold(plan: LogicalPlan): Sources = plan match {
    case rel: LogicalRelation =>
      val t = tableName(rel)
      rel.output.map(a => a.exprId.id -> Set(s"$t.${a.name}")).toMap
    case p: Project =>
      val below = fold(p.child)
      below ++ p.projectList.map(e => e.exprId.id -> refs(e, below))
    case a: Aggregate =>
      val below = fold(a.child)
      below ++ a.aggregateExpressions.map(e => e.exprId.id -> refs(e, below))
    case w: Window =>
      val below = fold(w.child)
      below ++ w.windowExpressions.map(e => e.exprId.id -> refs(e, below))
    case g: Generate =>
      // explode/posexplode/inline/json_tuple: every generated column
      // derives from the generator's inputs — without this case the
      // generated attributes would silently lose attribution, turning
      // the PII audit into a false negative for any exploding pipeline
      val below = fold(g.child)
      below ++ g.generatorOutput.map(a =>
        a.exprId.id -> refs(g.generator, below))
    case e: Expand =>
      // rollup/cube/grouping-sets lower to Expand: output column i is
      // fed by position i of EVERY projection
      val below = fold(e.child)
      below ++ e.output.zipWithIndex.map { case (a, i) =>
        a.exprId.id -> e.projections.flatMap(p => refs(p(i), below)).toSet
      }
    case u: Union =>
      val children = u.children.map(fold)
      val merged = u.children.map(_.output).transpose.zip(u.output).map {
        case (ins, out) =>
          out.exprId.id -> ins.zip(children).flatMap { case (a, m) =>
            m.getOrElse(a.exprId.id, Set.empty[String])
          }.toSet
      }
      children.reduce(_ ++ _) ++ merged
    case other =>
      other.children.map(fold).foldLeft(Map.empty: Sources)(_ ++ _)
  }

  /** (output column name, sorted source columns) for each output of the
    * frame, in output order.
    */
  def columnLineage(df: DataFrame): Seq[(String, Seq[String])] = {
    val plan = df.queryExecution.analyzed
    val sources = fold(plan)
    plan.output.map(a =>
      a.name -> sources.getOrElse(a.exprId.id, Set.empty).toSeq.sorted)
  }
}
