package graft.geom

import org.locationtech.jts.geom._
import org.locationtech.jts.geom.util.GeometryFixer
import org.locationtech.jts.io.{WKBReader, WKBWriter, WKTReader, WKTWriter}
import org.locationtech.jts.operation.union.UnaryUnionOp

/** JTS geometry codecs and validity helpers.
  *
  * Storage/shuffle representation is WKB bytes in a Spark `BinaryType`
  * column (see SURVEY.md §7.3); JTS `Geometry` is the in-operator object
  * model. WKT (`StringType`) appears only at the edges, mirroring the
  * reference's WKT transport (reference: spark_job/process_geodata.py:102-103,
  * 167,173 — `ST_AsText` server-side, `ST_GeomFromWKT` in-flight).
  *
  * JTS readers/writers are not thread-safe → one instance per thread.
  */
object Geom {
  val factory = new GeometryFactory(new PrecisionModel(), 0)

  private val wktReader = ThreadLocal.withInitial[WKTReader](() => new WKTReader(factory))
  private val wktWriter = ThreadLocal.withInitial[WKTWriter](() => new WKTWriter())
  private val wkbReader = ThreadLocal.withInitial[WKBReader](() => new WKBReader(factory))
  private val wkbWriter = ThreadLocal.withInitial[WKBWriter](() => new WKBWriter())

  def fromWkt(s: String): Geometry = wktReader.get.read(s)
  def toWkt(g: Geometry): String = wktWriter.get.write(g)
  def fromWkb(b: Array[Byte]): Geometry = wkbReader.get.read(b)
  def toWkb(g: Geometry): Array[Byte] = wkbWriter.get.write(g)

  /** Per-thread direct-mapped WKB→Geometry decode memo.
    *
    * Spatial joins evaluate their predicates once per CANDIDATE PAIR, and
    * one side of every such pair is a dimension-sized relation whose few
    * distinct geometries recur millions of times (25 regions × 5.3M kNN
    * pairs at sf0.1) — re-parsing ~1 µs of WKB per evaluation was the
    * dominant per-pair cost next to the distance math itself. A content-
    * keyed cache hit costs one byte-array hash + equals (~80 ns for the
    * 93-byte envelope WKB); a miss adds the same on top of the parse.
    *
    * Safety: entries are shared within a thread across rows, so callers
    * must treat parsed geometries as immutable — every mutating site in
    * the expression layer `copy()`s first (audited r17; the JTS read-only
    * predicates/overlay ops never mutate inputs, and the lazily-computed
    * internal envelope is confined to this thread). This is transient
    * per-task JVM state keyed on bytes in flight, never a cross-run
    * result cache. */
  private final class DecodeCache(cap: Int) {
    private val keys = new Array[Array[Byte]](cap)
    private val vals = new Array[Geometry](cap)
    def get(b: Array[Byte]): Geometry = {
      // size bound: the memo targets small recurring geometries (the 93 B
      // probe envelopes, dimension polygons); a one-off multi-KB geometry
      // would otherwise be pinned in the thread-local until evicted —
      // retention is capped at cap × (MaxCachedWkb + decoded form) per
      // long-lived executor thread by construction
      if (b.length > DecodeCache.MaxCachedWkb) return wkbReader.get.read(b)
      val i = (java.util.Arrays.hashCode(b) & 0x7fffffff) % cap
      val k = keys(i)
      if (k != null && java.util.Arrays.equals(k, b)) vals(i)
      else {
        val g = wkbReader.get.read(b)
        // defensive copy: callers that reuse/mutate their byte buffer must
        // not be able to poison the bytes→geometry mapping (Catalyst's
        // getBinary copies today, but that is caller behavior this cache
        // shouldn't rest on); the copy only costs on misses
        keys(i) = b.clone()
        vals(i) = g
        g
      }
    }
  }
  private object DecodeCache {
    val MaxCachedWkb = 2048
  }
  // 1024 slots: the r17 64-slot cache caught only the dimension side
  // (~25 distinct geometries); pair stages also re-parse the PROBE side
  // once per candidate pair, and probe envelopes recur ~2k distinct per
  // task (r17 profile) — 1024 direct-mapped slots catch most of that at
  // a bounded worst-case footprint (1024 × ≤2 KiB WKB + decoded form)
  private val decodeCache =
    ThreadLocal.withInitial[DecodeCache](() => new DecodeCache(1024))

  /** [[fromWkb]] through the per-thread decode memo — for read-only
    * consumers (the Catalyst expression layer); see [[DecodeCache]]. */
  def fromWkbCached(b: Array[Byte]): Geometry = decodeCache.get().get(b)

  /** WKB of the axis-aligned rectangle [x0,x1]×[y0,y1], written directly
    * (big-endian, the same layout JTS WKBWriter emits — byte-identical to
    * encoding the equivalent JTS polygon). The envelope is the probe-side
    * geometry of every spatial join, built once per fact row: direct byte
    * writing skips five Coordinate allocations + polygon construction and
    * is a static call codegen can emit inline. */
  def envelopeWkb(x0: Double, y0: Double, x1: Double, y1: Double): Array[Byte] = {
    val buf = java.nio.ByteBuffer.allocate(93) // 1 + 4 + 4 + 4 + 5*16, big-endian
    buf.put(0.toByte)      // XDR byte order
    buf.putInt(3)          // wkbPolygon
    buf.putInt(1)          // one ring
    buf.putInt(5)          // five points, closed
    buf.putDouble(x0).putDouble(y0)
    buf.putDouble(x1).putDouble(y0)
    buf.putDouble(x1).putDouble(y1)
    buf.putDouble(x0).putDouble(y1)
    buf.putDouble(x0).putDouble(y0)
    buf.array()
  }

  /** Repair invalid geometry; identity on valid input.
    * Mirrors Sedona `ST_MakeValid` as exercised by the reference
    * (process_geodata.py:102,103,113,126). */
  def makeValid(g: Geometry): Geometry =
    if (g.isValid) g else GeometryFixer.fix(g)

  /** Defensive intersection: on TopologyException, repair both sides and
    * retry, then fall back to zero-buffer normalization — reproducing the
    * reference's defensive nesting (process_geodata.py:125-133). */
  def safeIntersection(a: Geometry, b: Geometry): Geometry =
    safeOverlay(a, b)(_.intersection(_))

  /** Defensive overlay ladder shared by difference/symDifference — the
    * same TopologyException nesting as [[safeIntersection]]. */
  private def safeOverlay(a: Geometry, b: Geometry)
                         (op: (Geometry, Geometry) => Geometry): Geometry =
    try op(a, b)
    catch {
      case _: TopologyException =>
        try op(makeValid(a), makeValid(b))
        catch {
          case _: TopologyException => op(a.buffer(0), b.buffer(0))
        }
    }

  /** Defensive A \ B. */
  def safeDifference(a: Geometry, b: Geometry): Geometry =
    safeOverlay(a, b)(_.difference(_))

  /** Defensive (A \ B) ∪ (B \ A). */
  def safeSymDifference(a: Geometry, b: Geometry): Geometry =
    safeOverlay(a, b)(_.symDifference(_))

  /** Union of many geometries.
    *
    * Polygonal input (Polygons and MultiPolygons only) is split into its
    * non-empty Polygon parts, and the parts are grouped into connected
    * components, two parts connecting when their CLOSED envelopes
    * intersect. Parts in different components cannot even touch, so the
    * union is the MultiPolygon of the per-component unions, and only
    * components of two or more distinct parts (after dropping `equalsExact`
    * duplicates) pay for overlay (`UnaryUnionOp`, cascaded union); a
    * lone part passes through as is. Sparse input — the flagship's groups
    * of pairwise-disjoint parcels — thus costs an O(n log n) envelope
    * index instead of n − 1 overlays. Edge- or corner-touching parts share
    * an envelope point, stay in one component, and are dissolved as
    * before. Like JTS overlay, this expects valid polygonal input.
    *
    * Any other input (points, lines, mixed collections, all-empty)
    * takes `UnaryUnionOp.union` unchanged. */
  def unionAll(gs: java.util.Collection[Geometry]): Geometry =
    if (gs.isEmpty) factory.createGeometryCollection()
    else polygonParts(gs) match {
      case Some(parts) if parts.nonEmpty => unionPolygonParts(parts)
      case _ => UnaryUnionOp.union(gs)
    }

  /** The non-empty Polygon parts of all-polygonal input; None if any
    * input is neither a Polygon nor a MultiPolygon. */
  private def polygonParts(gs: java.util.Collection[Geometry]): Option[Array[Polygon]] = {
    val parts = Array.newBuilder[Polygon]
    val it = gs.iterator()
    while (it.hasNext) it.next() match {
      case p: Polygon => if (!p.isEmpty) parts += p
      case mp: MultiPolygon =>
        var i = 0
        while (i < mp.getNumGeometries) {
          val p = mp.getGeometryN(i).asInstanceOf[Polygon]
          if (!p.isEmpty) parts += p
          i += 1
        }
      case _ => return None
    }
    Some(parts.result())
  }

  private val envelopeOrder: Ordering[Polygon] = (a: Polygon, b: Polygon) => {
    val (ea, eb) = (a.getEnvelopeInternal, b.getEnvelopeInternal)
    var c = java.lang.Double.compare(ea.getMinX, eb.getMinX)
    if (c == 0) c = java.lang.Double.compare(ea.getMinY, eb.getMinY)
    if (c == 0) c = java.lang.Double.compare(ea.getMaxX, eb.getMaxX)
    if (c == 0) c = java.lang.Double.compare(ea.getMaxY, eb.getMaxY)
    c
  }

  private def unionPolygonParts(unsorted: Array[Polygon]): Geometry = {
    // envelope order makes the output part order independent of input
    // order, and puts equal-envelope parts next to each other
    val parts = unsorted.sorted(envelopeOrder)
    val n = parts.length
    val root = Array.tabulate(n)(identity)
    def find(i: Int): Int = {
      var r = i
      while (root(r) != r) { root(r) = root(root(r)); r = root(r) }
      r
    }
    val tree = new org.locationtech.jts.index.strtree.STRtree()
    var i = 0
    while (i < n) { tree.insert(parts(i).getEnvelopeInternal, Integer.valueOf(i)); i += 1 }
    i = 0
    while (i < n) {
      // Envelope.intersects is closed: touching envelopes connect
      val hits = tree.query(parts(i).getEnvelopeInternal)
      var h = 0
      while (h < hits.size) {
        val (a, b) = (find(i), find(hits.get(h).asInstanceOf[Integer].intValue))
        if (a != b) root(math.max(a, b)) = math.min(a, b)
        h += 1
      }
      i += 1
    }

    // members of each component in envelope order, components in the
    // order of their first member
    val members = new java.util.LinkedHashMap[Int, java.util.ArrayList[Polygon]]()
    i = 0
    while (i < n) {
      val m = members.computeIfAbsent(find(i), _ => new java.util.ArrayList[Polygon]())
      // exact duplicates share an envelope, so they sit in the run of
      // equal-envelope parts at the tail of m
      var k = m.size - 1
      var dup = false
      while (!dup && k >= 0 && envelopeOrder.equiv(m.get(k), parts(i))) {
        dup = m.get(k).equalsExact(parts(i))
        k -= 1
      }
      if (!dup) m.add(parts(i))
      i += 1
    }

    val out = new java.util.ArrayList[Polygon]()
    members.values.forEach { m =>
      if (m.size == 1) out.add(m.get(0))
      else {
        val u = UnaryUnionOp.union(m.asInstanceOf[java.util.Collection[Geometry]])
        var k = 0
        while (k < u.getNumGeometries) { out.add(u.getGeometryN(k).asInstanceOf[Polygon]); k += 1 }
      }
    }
    if (out.size == 1) out.get(0)
    else factory.createMultiPolygon(out.toArray(new Array[Polygon](0)))
  }
}
