package graft.plans

import graft.operators.{TaxiFsm, TaxiPosition}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeReference, GenericInternalRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.execution.{SparkPlan, UnaryExecNode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The sessionizer as a first-class Catalyst operator (SURVEY.md §7.3's
  * "custom Generator + SparkStrategy" upgrade path): a logical node, a
  * planner strategy, and a physical node that DECLARES its distribution
  * (clustered by taxi) and ordering (the reference's full key order)
  * requirements — `EnsureRequirements` then plans the exchange and sort,
  * AQE can re-plan them, and the FSM itself runs over raw `InternalRow`s
  * with no Dataset encoder round-trip.
  *
  * Child contract: columns (taxi int, ts double, tsS string, latS string,
  * longS string, status string) — what
  * [[graft.queries.TaxiQueries.segmentsToPositions]] produces.
  */
object SessionizePlan {

  val outputSchema: StructType = StructType(Seq(
    StructField("taxi", IntegerType, nullable = false),
    StructField("startTime", DoubleType, nullable = false),
    StructField("startLat", StringType, nullable = false),
    StructField("startLong", StringType, nullable = false),
    StructField("stopTime", DoubleType, nullable = false),
    StructField("stopLat", StringType, nullable = false),
    StructField("stopLong", StringType, nullable = false),
    StructField("isAirport", BooleanType, nullable = false),
    StructField("distanceKm", DoubleType, nullable = false),
    StructField("revenue", DoubleType, nullable = false),
    StructField("date", StringType, nullable = false)))

  /** Logical node. `output` is a constructor parameter (the LogicalRDD
    * pattern) so exprIds stay STABLE across the optimizer's copy()s —
    * a `val` would mint fresh ids on every transform and orphan parent
    * references. Build instances with [[SessionizeTrips.create]].
    */
  case class SessionizeTrips(child: LogicalPlan, override val output: Seq[Attribute])
      extends UnaryNode {
    // The FSM consumes every child column: without this, ColumnPruning sees
    // an expression-free node with empty references and prunes the child to
    // zero columns.
    override def references: org.apache.spark.sql.catalyst.expressions.AttributeSet =
      child.outputSet
    override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
      outputSet
    override protected def withNewChildInternal(c: LogicalPlan): SessionizeTrips =
      copy(child = c)
  }

  object SessionizeTrips {
    def create(child: LogicalPlan): SessionizeTrips =
      SessionizeTrips(child,
        outputSchema.map(f => AttributeReference(f.name, f.dataType, f.nullable)()))
  }

  /** Planner strategy, injected into every engine session by
    * [[graft.GraftExtensions]].
    */
  object SessionizeStrategy extends org.apache.spark.sql.execution.SparkStrategy {
    override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
      case s: SessionizeTrips =>
        SessionizeTripsExec(s.output, planLater(s.child)) :: Nil
      case _ => Nil
    }
  }

  case class SessionizeTripsExec(output: Seq[Attribute], child: SparkPlan)
      extends UnaryExecNode {

    // The output attrs sit in a constructor arg, so TreeNode counts them as
    // this node's expressions; mark them produced-here or the plan printer
    // flags phantom missing input.
    override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
      org.apache.spark.sql.catalyst.expressions.AttributeSet(output)

    private def childAttr(name: String): Attribute =
      child.output.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(
          s"sessionize child must produce column '$name'; got ${child.output.map(_.name)}"))

    /** All of one taxi's rows in one partition, across exactly
      * [[graft.spreadWidth]] partitions: the FSM runs as that many tasks.
      * A required partition count is part of the distribution, so AQE's
      * coalescing, which would fold this one exchange into a single task
      * on a small input, fails its re-validation and is not applied; the
      * plan still has exactly one exchange.
      */
    override def requiredChildDistribution: Seq[Distribution] =
      ClusteredDistribution(Seq(childAttr("taxi")),
        requiredNumPartitions = Some(graft.spreadWidth(session))) :: Nil

    /** ...sorted by the reference's composite key (J1-10). */
    override def requiredChildOrdering: Seq[Seq[SortOrder]] =
      Seq(Seq("taxi", "tsS", "latS", "longS", "status")
        .map(n => SortOrder(childAttr(n), Ascending)))

    /** Emitted trips stay clustered by taxi — re-express the child's hash
      * partitioning in OUR output attribute (same values, new exprId) so
      * parents binding against our output can still exploit it.
      */
    override def outputPartitioning: org.apache.spark.sql.catalyst.plans.physical.Partitioning =
      child.outputPartitioning match {
        case h: org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
            if h.expressions == Seq(childAttr("taxi")) =>
          h.copy(expressions = Seq(output.head))
        case _ =>
          org.apache.spark.sql.catalyst.plans.physical.UnknownPartitioning(0)
      }

    override protected def doExecute(): RDD[InternalRow] = {
      val iTaxi = child.output.indexWhere(_.name == "taxi")
      val iTs = child.output.indexWhere(_.name == "ts")
      val iTsS = child.output.indexWhere(_.name == "tsS")
      val iLatS = child.output.indexWhere(_.name == "latS")
      val iLongS = child.output.indexWhere(_.name == "longS")
      val iStatus = child.output.indexWhere(_.name == "status")
      val schema = outputSchema
      val idxs = Seq(iTaxi, iTs, iTsS, iLatS, iLongS, iStatus)
      child.execute().mapPartitions({ rows =>
        val proj = UnsafeProjection.create(schema)
        // Null-guard: the contract is non-null positions, but a caller
        // feeding e.g. try_to_timestamp output must get rows dropped, not a
        // silent ts=0.0 (getDouble on null slot) or an executor NPE.
        val positions = rows
          .filter(r => idxs.forall(i => !r.isNullAt(i)))
          .map { r =>
            TaxiPosition(r.getInt(iTaxi), r.getDouble(iTs),
              r.getUTF8String(iTsS).toString, r.getUTF8String(iLatS).toString,
              r.getUTF8String(iLongS).toString, r.getUTF8String(iStatus).toString)
          }
        TaxiFsm.sessionizePartition(positions).map { t =>
          proj(new GenericInternalRow(Array[Any](
            t.taxi, t.startTime, UTF8String.fromString(t.startLat),
            UTF8String.fromString(t.startLong), t.stopTime,
            UTF8String.fromString(t.stopLat), UTF8String.fromString(t.stopLong),
            t.isAirport, t.distanceKm, t.revenue, UTF8String.fromString(t.date))))
        }
      }, preservesPartitioning = true)
    }

    override protected def withNewChildInternal(c: SparkPlan): SessionizeTripsExec =
      copy(child = c)
  }

  /** Public API: positions DataFrame → trips DataFrame through the custom
    * operator. The session plans it through [[graft.GraftExtensions]].
    */
  def trips(spark: SparkSession, positions: DataFrame): DataFrame =
    org.apache.spark.sql.graft.Bridge.ofRows(spark,
      SessionizeTrips.create(org.apache.spark.sql.graft.Bridge.planOf(positions)))
}
