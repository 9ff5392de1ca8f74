package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Dense-vector column functions over `array<float>` embedding columns
  * (SURVEY §2.G similarity search).
  *
  * Pure `zip_with`/`aggregate` compositions — codegen'd, no UDF, no
  * serialization of the vectors off the JVM heap. Math is done in double
  * regardless of the storage type so results are stable and
  * oracle-comparable.
  */
object VectorFunctions {

  import graft.plans.DotProduct
  import org.apache.spark.sql.graftbridge.ColumnBridge

  /** Σ aᵢ·bᵢ in double — native codegen'd expression (primitive loop
    * over ArrayData; see graft.plans.DotProduct for why not zip_with). */
  def dot(a: Column, b: Column): Column =
    ColumnBridge.column(DotProduct(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  def normSq(a: Column): Column = dot(a, a)

  def l2Norm(a: Column): Column = sqrt(normSq(a))

  /** Cosine similarity in [-1, 1]. */
  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (l2Norm(a) * l2Norm(b))

  /** 0-based id of the nearest centroid under cosine (first max wins
    * ties). Centroids MUST be unit-normalized: cosine-argmax then equals
    * dot-argmax (the vector's own norm is a shared positive factor).
    * Native expression — the codebook is ONE reference object, not k×dim
    * literal nodes (see graft.plans.VectorImpl). */
  def nearestCentroidId(v: Column, unitCentroids: Seq[Seq[Double]]): Column =
    ColumnBridge.column(graft.plans.NearestCentroid(
      ColumnBridge.expression(v),
      unitCentroids.flatten.toIndexedSeq, unitCentroids.head.size))

  /** Column-composed twin of `nearestCentroidId` kept as the equivalence
    * oracle for the native expression (property-tested identical). */
  def nearestCentroidIdCols(v: Column, unitCentroids: Seq[Seq[Double]]): Column = {
    val dots = array(unitCentroids.map(c =>
      dot(v, array(c.map(lit): _*))): _*)
    (array_position(dots, array_max(dots)) - 1).cast("int")
  }

  /** The nProbe nearest cell ids for an IVF probe, best first. */
  def topCentroidIds(v: Column, unitCentroids: Seq[Seq[Double]],
                     nProbe: Int): Column =
    ColumnBridge.column(graft.plans.TopCentroids(
      ColumnBridge.expression(v),
      unitCentroids.flatten.toIndexedSeq, unitCentroids.head.size, nProbe))

  /** nTables hyperplane-LSH bucket ids in one fused native pass (planes
    * as a single reference object; property-tested equal to the
    * composed per-table hyperplaneBucket pipeline). `planes` holds
    * nTables×nPlanes consecutive plane vectors. */
  def hyperplaneBucketsNative(v: Column, planes: Seq[Seq[Double]],
                              nPlanes: Int): Column = {
    require(planes.size % nPlanes == 0, "planes must fill whole tables")
    ColumnBridge.column(graft.plans.HyperplaneBuckets(
      ColumnBridge.expression(v), planes.flatten.toIndexedSeq,
      planes.head.size, nPlanes, planes.size / nPlanes))
  }

  /** Sign bits against a fixed set of hyperplanes → a compact LSH bucket
    * id (random-hyperplane LSH; planes supplied as literal weights).
    * Kept as the composed-Column equivalence oracle for
    * `hyperplaneBucketsNative` and for single-bucket callers. */
  def hyperplaneBucket(v: Column, planes: Seq[Seq[Double]]): Column = {
    val bits = planes.zipWithIndex.map { case (plane, i) =>
      val planeCol = array(plane.map(lit): _*)
      when(dot(v, planeCol) >= 0, lit(1L << i)).otherwise(lit(0L))
    }
    bits.reduce(_ + _)
  }
}
