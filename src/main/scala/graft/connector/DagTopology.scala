package graft.connector

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.pipeline.Xf

/** DAG topology builder — the Spark-first analogue of the reference's
  * channel DAG (/root/reference/src/etlp/connector/dag.clj:69-110:
  * `build` wires entity nodes with workflow edges over core.async
  * channels, with mult/tap for fan-out and merged channels for fan-in).
  *
  * Here a node is either a source (produces a DataFrame) or a transform
  * ([[Xf]]); edges declare dataflow. Fan-in is `unionByName`; fan-out
  * is a DataFrame that any number of downstream nodes reference, where
  * the reference physically copied records into tapped channels. Plan
  * references are not one pass: a fan-in of two branches over one
  * source plans that source once per branch. Run as a `Connection`
  * (`Connection.start`), the fan-in's branches over a shared base are
  * fused by [[graft.plans.OnePassUnion]], so the source is read once; a
  * frame from [[output]] used directly keeps one read per branch.
  * Nothing materializes per-node: `build` is pure plan construction.
  */
final class DagTopology private (
    nodes: Map[String, DagTopology.Node],
    edges: Seq[(String, String)]) {
  import DagTopology._

  def withSource(name: String, df: DataFrame): DagTopology =
    new DagTopology(nodes + (name -> SourceNode(df)), edges)
  def withSource(name: String, src: EtlpSource, spark: SparkSession): DagTopology =
    withSource(name, src.read(spark))
  def withXform(name: String, xf: Xf): DagTopology =
    new DagTopology(nodes + (name -> XformNode(xf)), edges)
  def withEdge(from: String, to: String): DagTopology =
    new DagTopology(nodes, edges :+ (from -> to))
  def withWorkflow(workflow: (String, String)*): DagTopology =
    workflow.foldLeft(this)((t, e) => t.withEdge(e._1, e._2))

  /** Compile every node to its DataFrame (topological order; cycles and
    * dangling node references are rejected). */
  def build(): Map[String, DataFrame] = {
    val missing = edges.flatMap(e => Seq(e._1, e._2)).filterNot(nodes.contains)
    require(missing.isEmpty, s"edges reference undefined nodes: ${missing.distinct.mkString(",")}")
    val parents: Map[String, Seq[String]] =
      edges.groupBy(_._2).view.mapValues(_.map(_._1)).toMap
    val resolved = scala.collection.mutable.Map[String, DataFrame]()
    val visiting = scala.collection.mutable.Set[String]()
    def resolve(name: String): DataFrame = resolved.getOrElseUpdate(name, {
      require(!visiting.contains(name), s"cycle through node '$name'")
      visiting += name
      val df = nodes(name) match {
        case SourceNode(df0) => df0
        case XformNode(xf) =>
          val ps = parents.getOrElse(name, Nil)
          require(ps.nonEmpty, s"xform node '$name' has no inbound edge")
          val in = ps.map(resolve).reduceLeft(_ unionByName _) // fan-in
          xf(in)
      }
      visiting -= name
      df
    })
    nodes.keys.foreach(resolve)
    resolved.toMap
  }

  /** Build and return one terminal node's frame. */
  def output(name: String): DataFrame = build()(name)
}

object DagTopology {
  private sealed trait Node
  private final case class SourceNode(df: DataFrame) extends Node
  private final case class XformNode(xf: Xf) extends Node

  def empty: DagTopology = new DagTopology(Map.empty, Vector.empty)
}
