package graft.operators

import scala.collection.mutable
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** Connected components over an undirected edge list, finished on the
  * driver with one in-memory union-find; replaces the reference's BFS
  * (`recap/dedup/cluster.py:73-91`).
  *
  * One job (`cc: collect edges`) packs each partition's rows into a
  * primitive `Array[Long]` on the executor: 4 longs per edge, 2 per vertex
  * row. The driver interns every key as a dense int in an open-addressed
  * table and runs union by size with path halving, keeping each root's
  * minimum key. Nothing is persisted or checkpointed. Callers whose
  * vertices all lie on edges pass the edges alone, and then only edges
  * are collected.
  *
  * Keys are non-null `bigint` or `struct<h1:bigint,h2:bigint>`, normalised
  * to `(k, 0)` or `(h1, h2)`; signed lexicographic order on that pair is
  * Spark's ordering of the key type. Any other key type is rejected.
  *
  * Envelope: the verified edges must fit in driver heap. At local[4] on
  * 5.1 M near-clique edges with struct keys (1.0 M vertices), heap used
  * after GC peaked 107-216 B per edge above its level before the call, and
  * the call ran in a 2 GB heap in 4.5 s (SCALE.md). The collected arrays
  * also count against `spark.driver.maxResultSize` (1 GB by default): the
  * edges-only form collects 32 B per edge, or ~32 M edges; each vertex row
  * adds 16 B.
  */
object ConnectedComponents {

  /** Vertices per slice of the returned frame: 512 KB of longs per task,
    * under Spark's 1000 KiB task-size warning. */
  private val SliceVertices = 1 << 14

  /** Components over the edge endpoints alone — what a caller needs when
    * every vertex of interest is in some edge (a vertex with no edge is a
    * singleton component).
    *
    * @param edges (src, dst), one row per undirected edge, either direction
    * @return (id, component), one row per distinct edge endpoint;
    *         component = the component's minimum key
    */
  def run(spark: SparkSession, edges: DataFrame): DataFrame =
    components(spark, None, edges)

  /** @param vertices (id); need not be distinct
    * @param edges    (src, dst), one row per undirected edge, either direction
    * @return (id, component), one row per distinct id of `vertices` ∪ the
    *         edge endpoints; component = the component's minimum key
    */
  def run(spark: SparkSession, vertices: DataFrame, edges: DataFrame): DataFrame =
    components(spark, Some(vertices), edges)

  private def components(spark: SparkSession, vertices: Option[DataFrame],
                         edges: DataFrame): DataFrame = {
    val keyType = vertices.fold(edges.schema("src").dataType)(_.schema("id").dataType)
    val struct = isStructKey(keyType)
    Seq("src", "dst").foreach { c =>
      require(isStructKey(edges.schema(c).dataType) == struct,
        s"edge $c type ${edges.schema(c).dataType} does not match vertex id type $keyType")
    }
    val sc = spark.sparkContext
    sc.setJobDescription("cc: collect edges")
    val edgeArrs = packed(edges.select(col("src"), col("dst")), struct)
    val vertexArrs = vertices.map(v => packed(v.select(col("id")), struct))
    val (edgeParts, vertexParts) =
      sc.union(edgeArrs +: vertexArrs.toSeq).collect().splitAt(edgeArrs.getNumPartitions)

    val uf = new UnionFind
    for (a <- edgeParts; i <- a.indices by 4) uf.union(uf.id(a(i), a(i + 1)), uf.id(a(i + 2), a(i + 3)))
    for (a <- vertexParts; i <- a.indices by 2) uf.id(a(i), a(i + 1))

    // (id hi, id lo, component hi, component lo) per vertex, in slices that
    // become the output partitions; rows are built on the executors
    val slices = (0 until uf.n by SliceVertices).map { from =>
      (from until math.min(uf.n, from + SliceVertices)).toArray.flatMap { v =>
        val m = uf.minKey(v)
        Array(uf.hi(v), uf.lo(v), uf.hi(m), uf.lo(m))
      }
    }
    val rows = sc.parallelize(slices, math.max(1, slices.size)).flatMap { a =>
      Iterator.range(0, a.length, 4).map { o =>
        if (struct) Row(Row(a(o), a(o + 1)), Row(a(o + 2), a(o + 3)))
        else Row(a(o), a(o + 2))
      }
    }
    spark.createDataFrame(rows, StructType(Seq(
      StructField("id", keyType, nullable = false),
      StructField("component", keyType, nullable = false))))
  }

  private def isStructKey(dt: DataType): Boolean = dt match {
    case LongType => false
    case StructType(Array(StructField("h1", LongType, _, _), StructField("h2", LongType, _, _))) => true
    case other => throw new IllegalArgumentException(
      s"ConnectedComponents keys must be bigint or struct<h1:bigint,h2:bigint>, got $other")
  }

  /** One `Array[Long]` per partition: each key column as its (hi, lo) pair. */
  private def packed(df: DataFrame, struct: Boolean): RDD[Array[Long]] = {
    val width = df.schema.length
    df.queryExecution.toRdd.mapPartitions { rows =>
      val buf = new mutable.ArrayBuilder.ofLong
      rows.foreach { r =>
        (0 until width).foreach { c =>
          if (struct) { val k = r.getStruct(c, 2); buf += k.getLong(0) += k.getLong(1) }
          else buf += r.getLong(c) += 0L
        }
      }
      Iterator.single(buf.result())
    }
  }

  /** Union by size with path halving over dense ids; `id` interns a
    * (hi, lo) key in an open-addressed table kept at most half full.
    */
  private final class UnionFind {
    var n = 0
    var hi = new Array[Long](1024)
    var lo = new Array[Long](1024)
    private var parent = new Array[Int](1024)
    private var size = new Array[Int](1024)
    private var minOf = new Array[Int](1024) // per root: dense id of its min key
    private var slots = new Array[Int](2048) // dense id + 1; 0 = empty

    def id(h: Long, l: Long): Int = {
      if (n == hi.length) grow()
      val s = probe(h, l)
      if (slots(s) == 0) {
        hi(n) = h; lo(n) = l; parent(n) = n; size(n) = 1; minOf(n) = n
        n += 1
        slots(s) = n
      }
      slots(s) - 1
    }

    def union(a: Int, b: Int): Unit = {
      var ra = find(a)
      var rb = find(b)
      if (ra != rb) {
        if (size(ra) < size(rb)) { val t = ra; ra = rb; rb = t }
        parent(rb) = ra
        size(ra) += size(rb)
        if (less(minOf(rb), minOf(ra))) minOf(ra) = minOf(rb)
      }
    }

    /** Dense id of the minimum key in `v`'s component. */
    def minKey(v: Int): Int = minOf(find(v))

    private def find(v0: Int): Int = {
      var v = v0
      while (parent(v) != v) {
        parent(v) = parent(parent(v))
        v = parent(v)
      }
      v
    }

    private def less(a: Int, b: Int): Boolean =
      hi(a) < hi(b) || (hi(a) == hi(b) && lo(a) < lo(b))

    /** The slot holding (h, l), else the empty slot where it belongs. */
    private def probe(h: Long, l: Long): Int = {
      var x = h * 0x9E3779B97F4A7C15L ^ l
      x = (x ^ (x >>> 33)) * 0xFF51AFD7ED558CCDL
      var s = (x ^ (x >>> 33)).toInt & (slots.length - 1)
      while (slots(s) != 0 && (hi(slots(s) - 1) != h || lo(slots(s) - 1) != l))
        s = (s + 1) & (slots.length - 1)
      s
    }

    private def grow(): Unit = {
      val cap = 2 * hi.length
      hi = java.util.Arrays.copyOf(hi, cap)
      lo = java.util.Arrays.copyOf(lo, cap)
      parent = java.util.Arrays.copyOf(parent, cap)
      size = java.util.Arrays.copyOf(size, cap)
      minOf = java.util.Arrays.copyOf(minOf, cap)
      slots = new Array[Int](2 * cap)
      (0 until n).foreach(v => slots(probe(hi(v), lo(v))) = v + 1)
    }
  }
}
