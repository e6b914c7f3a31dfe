package graft.exprs

import graft.geom.Geom
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types.{BinaryType, DataType}
import org.locationtech.jts.geom.Geometry

/** Grouped geometric union aggregate — the one aggregate Spark lacks
  * (reference: Sedona `ST_Union_Aggr`, spark_job/process_geodata.py:113).
  *
  * `TypedImperativeAggregate` gives true partial aggregation: each map task
  * accumulates geometries, the buffer serializes as the WKB of a
  * GeometryCollection across the shuffle, and partial buffers merge on the
  * reduce side. The buffer is compacted (pre-unioned) whenever it exceeds
  * [[StUnionAgg.CompactAt]] elements, so per-group memory stays bounded on
  * skewed groups — the 100 TB scale path (union is associative, so eager
  * partial unions preserve semantics).
  *
  * Every union goes through [[graft.geom.Geom.unionAll]]: polygonal
  * buffers are split into envelope-connected components, exact duplicates
  * drop out, lone parts pass through, and only components of several
  * parts are overlaid (JTS cascaded union); any non-polygonal member
  * sends the whole buffer through JTS `UnaryUnionOp`. Like JTS overlay,
  * it expects valid polygonal input.
  */
case class StUnionAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[java.util.ArrayList[Geometry]]
  with UnaryLike[Expression] {

  import StUnionAgg.CompactAt

  override def prettyName: String = "st_union_agg"
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true

  override def createAggregationBuffer(): java.util.ArrayList[Geometry] =
    new java.util.ArrayList[Geometry]()

  private def compact(buf: java.util.ArrayList[Geometry]): Unit =
    if (buf.size() > CompactAt) {
      val u = Geom.unionAll(buf)
      buf.clear()
      buf.add(u)
    }

  override def update(buf: java.util.ArrayList[Geometry], input: InternalRow): java.util.ArrayList[Geometry] = {
    val v = child.eval(input)
    if (v != null) {
      val g = Geom.fromWkb(v.asInstanceOf[Array[Byte]])
      // Empty geometries are union identities; dropping them here also keeps
      // serialize() safe (JTS WKBWriter rejects empty Points inside a
      // GeometryCollection).
      if (!g.isEmpty) {
        buf.add(g)
        compact(buf)
      }
    }
    buf
  }

  override def merge(b1: java.util.ArrayList[Geometry], b2: java.util.ArrayList[Geometry]): java.util.ArrayList[Geometry] = {
    b1.addAll(b2)
    compact(b1)
    b1
  }

  override def eval(buf: java.util.ArrayList[Geometry]): Any =
    if (buf.isEmpty) null else Geom.toWkb(Geom.unionAll(buf))

  override def serialize(buf: java.util.ArrayList[Geometry]): Array[Byte] =
    Geom.toWkb(Geom.factory.createGeometryCollection(buf.toArray(new Array[Geometry](0))))

  override def deserialize(bytes: Array[Byte]): java.util.ArrayList[Geometry] = {
    val gc = Geom.fromWkb(bytes)
    val buf = new java.util.ArrayList[Geometry](gc.getNumGeometries)
    var i = 0
    while (i < gc.getNumGeometries) { buf.add(gc.getGeometryN(i)); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): StUnionAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): StUnionAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(c: Expression): StUnionAgg = copy(child = c)
}

object StUnionAgg {
  /** Buffer size that triggers an eager partial union. */
  val CompactAt = 256
}
