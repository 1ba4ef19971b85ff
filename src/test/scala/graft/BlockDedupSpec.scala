package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.core.HashingEmbedder
import graft.operators.BlockDedup

/** BlockDedup vs a direct Scala port of the reference algorithm
  * (`oneshot_digest.py:500-691`) on randomized block sets.
  */
class BlockDedupSpec extends AnyFunSuite {
  lazy val spark = SparkSuite.spark

  // ---- driver-side oracle: literal port of the reference semantics ----
  case class Block(title: String, ids: Vector[String])

  private def oracle(blocks: Vector[Block], sections: Vector[Vector[Int]], t: Double)
  : (Vector[Block], Vector[Vector[Int]]) = {
    val n = blocks.length
    val keys = blocks.map(b => b.ids.toSet)
    // phase 1
    val groups = keys.zipWithIndex.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val survivors = Array.tabulate(n)(identity)
    groups.values.foreach { idxs =>
      val winner = idxs.maxBy(i => (blocks(i).title.length, -i))
      idxs.foreach(i => survivors(i) = winner)
    }
    // phase 2
    val unique = survivors.distinct.sorted
    val absorbed = scala.collection.mutable.Map[Int, Int]()
    for (i <- unique; j <- unique if i != j)
      if (keys(i) != keys(j) && keys(i).subsetOf(keys(j))) {
        val prev = absorbed.get(i)
        if (prev.isEmpty || keys(j).size < keys(prev.get).size) absorbed(i) = j
      }
    def resolve(i0: Int): Int = {
      var i = i0
      while (absorbed.contains(i)) i = absorbed(i)
      i
    }
    val finalW12 = survivors.map(resolve).distinct.sorted
    val o2w12 = Array.tabulate(n)(i => resolve(survivors(i)))
    val b12 = finalW12.toVector.map(blocks)
    val w12ToPos = finalW12.zipWithIndex.toMap
    // phase 3 over b12 (indices are positions 0..m-1 in reference)
    val m = b12.length
    val vecs = b12.map(b => HashingEmbedder.embed(b.title))
    val adj = Array.fill(m)(scala.collection.mutable.Set[Int]())
    for (i <- 0 until m; j <- (i + 1) until m)
      if (HashingEmbedder.cosine(vecs(i), vecs(j)) >= t) { adj(i) += j; adj(j) += i }
    val visited = scala.collection.mutable.Set[Int]()
    val clusters = scala.collection.mutable.ArrayBuffer[Vector[Int]]()
    (0 until m).foreach { s =>
      if (!visited(s)) {
        val comp = scala.collection.mutable.ArrayBuffer[Int]()
        val q = scala.collection.mutable.Queue(s)
        while (q.nonEmpty) {
          val c = q.dequeue()
          if (!visited(c)) { visited += c; comp += c; adj(c).foreach(x => if (!visited(x)) q.enqueue(x)) }
        }
        if (comp.size >= 2) clusters += comp.toVector
      }
    }
    val mergedBlocks = scala.collection.mutable.Map[Int, Block]()
    val absorbed3 = scala.collection.mutable.Map[Int, Int]()
    clusters.foreach { cl =>
      val idxs = cl.sorted
      val winner = idxs.maxBy(i => (b12(i).ids.length, b12(i).title.length, -i))
      val combined = scala.collection.mutable.LinkedHashSet[String]()
      idxs.foreach { i =>
        b12(i).ids.foreach(combined += _)
        if (i != winner) absorbed3(i) = winner
      }
      mergedBlocks(winner) = Block(b12(winner).title, combined.toVector)
    }
    val consumed = mergedBlocks.keySet ++ absorbed3.keySet
    val finalIdx = (mergedBlocks.keySet ++ ((0 until m).toSet -- consumed)).toVector.sorted
    val o2new3 = scala.collection.mutable.Map[Int, Int]()
    finalIdx.zipWithIndex.foreach { case (o, nw) => o2new3(o) = nw }
    absorbed3.foreach { case (a, w) => o2new3(a) = o2new3(w) }
    val outBlocks = finalIdx.map(i => mergedBlocks.getOrElse(i, b12(i)))
    val outSections = sections.map { sec =>
      sec.map(i => o2new3(w12ToPos(o2w12(i)))).distinct
    }.filter(_.nonEmpty)
    (outBlocks, outSections)
  }

  // ---- randomized comparison ----
  test("BlockDedup matches the reference oracle on randomized block sets") {
    val rnd = new scala.util.Random(2026)
    val phrases = Vector(
      "breaking news about the economy today",
      "breaking news about the economy today again",
      "sports results from the weekend matches",
      "weather forecast for the coming week",
      "science discovers a new planet far away",
      "local elections and their many consequences")
    (1 to 3).foreach { round =>
      val n = 12 + rnd.nextInt(8)
      val blocks = Vector.tabulate(n) { i =>
        val base = phrases(rnd.nextInt(phrases.length))
        val title = if (rnd.nextBoolean()) base else base + " " + ('a' + rnd.nextInt(26)).toChar
        val sz = 1 + rnd.nextInt(4)
        val ids = Vector.fill(sz)("a" + rnd.nextInt(10)).distinct
        Block(title, ids)
      }
      val sections = Vector.tabulate(3)(_ =>
        Vector.fill(4 + rnd.nextInt(4))(rnd.nextInt(n)).distinct)

      val (wantB, wantS) = oracle(blocks, sections, 0.90)

      import spark.implicits._
      val bdf = blocks.zipWithIndex
        .map { case (b, i) => (i.toLong, b.title, b.ids) }
        .toDF("idx", "title", "article_ids")
      val sdf = sections.zipWithIndex
        .map { case (s, i) => (i.toLong, s"sec$i", s.map(_.toLong)) }
        .toDF("section_id", "title", "block_indices")
      val (gotBdf, gotSdf) = BlockDedup.run(spark, bdf, sdf)
      val gotB = gotBdf.collect().map(r =>
          (r.getAs[Number](0).longValue, Block(r.getString(1), r.getSeq[String](2).toVector)))
        .sortBy(_._1).map(_._2).toVector
      val gotS = gotSdf.collect().map(r =>
          (r.getLong(0), r.getSeq[Number](2).map(_.intValue).toVector))
        .sortBy(_._1).map(_._2).toVector

      assert(gotB == wantB, s"round $round blocks:\n got=$gotB\nwant=$wantB\nin=$blocks")
      assert(gotS == wantS, s"round $round sections:\n got=$gotS\nwant=$wantS")
    }
  }

  test("BlockDedup resolves a 23-block strict-subset chain to its largest block") {
    import spark.implicits._
    // block k holds ids a0..ak, so each block is absorbed by the next one
    val blocks = (0 until 23).map(k => (k.toLong, s"chain block $k", (0 to k).map(i => s"a$i")))
      .toDF("idx", "title", "article_ids")
    val winners = BlockDedup.exactAndSubset(spark, blocks)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(winners == (0L until 23L).map(_ -> 22L).toMap)
  }
}
