package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{HashingEmbedder, MinHash}
import graft.sources.PagesGen

/** A workload's input and schedule: how many docs it has, how to generate
  * them, and how many warm-up and timed calls a run makes. Generated tables
  * carry `url, warc_ts, text, truth_family`; the program under test only
  * ever sees `url, warc_ts, text`.
  */
final case class Workload(name: String, docs: Int, days: Int, warm: Int, passes: Int) {
  /** Whether a run drains day partitions through `Checkpoint.runIncremental`
    * instead of one `DedupPipeline.run` batch.
    */
  def incremental: Boolean = name == "daily_incremental"

  def generate(spark: SparkSession, seed: Long): DataFrame = name match {
    case "dup_dense" => DupDense.generate(spark, docs, seed)
    case _ => PagesGen.generate(spark, docs, nDomains = 500, nDays = days, seed = seed)
      .select("url", "warc_ts", "text", "truth_family")
  }
}

object Workload {
  /** The JIT keeps warming for many calls, so the warm-up is several full
    * calls and the timed calls follow it in the same order in every run.
    * Sizes keep a run near 50 s at local[4] (README.md, Run budget).
    */
  def apply(name: String, smoke: Boolean): Workload = (name, smoke) match {
    case ("crawl_mix", false)         => Workload(name, 2500, 7, 3, 6)
    case ("dup_dense", false)         => Workload(name, 2500, 7, 3, 6)
    case ("daily_incremental", false) => Workload(name, 1200, 2, 2, 3)
    case (_, true)                    => Workload(name, 600, 2, 1, 2)
    case _ => throw new IllegalArgumentException(s"unknown workload '$name'")
  }
}

/** News-syndication corpus: most docs belong to families of wire stories
  * re-published across domains.
  *
  *   - 10 % of docs are unrelated singletons.
  *   - A family has 2-8 docs (half of them), 9-20 (a quarter) or 21-48 (a
  *     quarter), so some families take the >20 split and keeper path while
  *     every family stays far below `DedupConfig.maxBucketSize`.
  *   - A family is an edit chain of 1 + size/2 versions: each version
  *     applies 1-3 token edits to the previous one, so the far ends of a
  *     chain can fall below the cosine threshold while each link is above
  *     it, which gives connected components a diameter above 1.
  *   - The family's docs are spread over its versions, so about half the
  *     docs are byte-identical copies of another doc (the exact pre-collapse
  *     and the member fan-in path).
  */
object DupDense {
  private val Alpha = ('a' to 'z').mkString
  private val VocabSize = 20000

  private final class Rng(seed0: Long) {
    private var s = MinHash.mix64(seed0)
    def nextLong(): Long = { s = MinHash.mix64(s + 0x9E3779B97F4A7C15L); s }
    def nextInt(bound: Int): Int = ((nextLong() >>> 1) % bound).toInt
    def nextDouble(): Double = (nextLong() >>> 11) * 1.1102230246251565e-16
  }

  private def word(i: Int): String = {
    var h = MinHash.mix64(0x3A7E5L + i)
    val len = 4 + (h & 0x7L).toInt
    val sb = new java.lang.StringBuilder(len)
    var j = 0
    while (j < len) {
      h = MinHash.mix64(h)
      sb.append(Alpha.charAt(((h >>> 8) % Alpha.length).toInt))
      j += 1
    }
    sb.toString
  }

  private def story(rng: Rng): Vector[String] =
    Vector.fill(80 + rng.nextInt(81))(word(rng.nextInt(VocabSize)))

  private def edit(toks: Vector[String], rng: Rng): Vector[String] = {
    var out = toks
    (0 until 1 + rng.nextInt(3)).foreach { _ =>
      val i = rng.nextInt(out.length)
      val r = rng.nextDouble()
      out =
        if (r < 0.4) out.updated(i, word(rng.nextInt(VocabSize)))
        else if (r < 0.7 && out.length > 5) out.patch(i, Nil, 1)
        else out.patch(i, Seq(word(rng.nextInt(VocabSize))), 0)
    }
    out
  }

  private def familySize(rng: Rng): Int = {
    val u = rng.nextDouble()
    if (u < 0.5) 2 + rng.nextInt(7) else if (u < 0.75) 9 + rng.nextInt(12) else 21 + rng.nextInt(28)
  }

  def generate(spark: SparkSession, nDocs: Int, seed: Long): DataFrame = {
    val rng = new Rng(seed ^ 0xD0DE5EL)
    val rows = scala.collection.mutable.ArrayBuffer[(String, java.sql.Timestamp, String, Long)]()
    var fam = 0L
    def add(text: String, family: Long): Unit = {
      val i = rows.size
      // log-uniform (Zipf-ish) republisher domain, as in PagesGen
      val rank = math.min(199, (math.exp(rng.nextDouble() * math.log(201.0)) - 1).toInt)
      val ts = new java.sql.Timestamp((1767225600L + rng.nextInt(7 * 86400)) * 1000L)
      rows += ((s"https://www.w$rank.example/wire/$fam/doc-$i", ts, text, family))
    }
    while (rows.size < nDocs) {
      if (rng.nextDouble() < 0.1) add(story(rng).mkString(" "), -1L)
      else {
        val size = math.min(familySize(rng), nDocs - rows.size)
        val versions = Iterator.iterate(story(rng))(edit(_, rng))
          .take(1 + size / 2).map(_.mkString(" ")).toVector
        (0 until size).foreach { k =>
          // the first docs walk the chain once; the rest are copies
          val v = if (k < versions.size) k else rng.nextInt(versions.size)
          add(versions(v), if (size >= 2) fam else -1L)
        }
      }
      fam += 1
    }
    import spark.implicits._
    rows.toSeq.toDF("url", "warc_ts", "text", "truth_family").repartition(4)
  }
}

/** The ground truth and the output checks. */
object Truth {
  /** Truth duplicate pairs: two docs of one generator family whose
    * `HashingEmbedder` cosine is at least `threshold`. With `perDay`, only
    * pairs within one day count (a day is deduplicated on its own).
    */
  def pairs(input: DataFrame, threshold: Double, perDay: Boolean): Array[(String, String)] = {
    val rows = input.filter(col("truth_family") >= 0)
      .select(col("url"), col("text"), col("truth_family"),
        (if (perDay) date_format(col("warc_ts"), "yyyy-MM-dd") else lit("")).as("day"))
      .collect()
    rows.groupBy(r => (r.getLong(2), r.getString(3))).values.flatMap { fam =>
      val vs = fam.map(r => (r.getString(0), HashingEmbedder.embedSparse(r.getString(1))))
      for {
        i <- vs.indices.iterator
        j <- (i + 1 until vs.length).iterator
        if HashingEmbedder.cosineSparse(vs(i)._2.packed, vs(i)._2.norm,
          vs(j)._2.packed, vs(j)._2.norm) >= threshold
      } yield (vs(i)._1, vs(j)._1)
    }.toArray
  }

  /** Share of truth pairs whose two docs land in one output `component`.
    *
    * The check is at component level, so a split of a component larger
    * than `maxGroup` is not a miss. That includes the one doc a split can
    * drop: when a component has k * maxGroup + 1 docs, its last doc in
    * canonical order (warc_ts desc, url asc) is a chunk of one, and chunks
    * of one are not output. `ts` gives every input doc's warc_ts.
    */
  def recall(truth: Array[(String, String)], out: Seq[Row], maxGroup: Int,
             ts: Map[String, java.sql.Timestamp]): Double = {
    val comp = out.map(r => r.getAs[String]("url") -> r.getAs[String]("component")).toMap
    val members = out.groupBy(_.getAs[String]("component")).view
      .mapValues(_.map(_.getAs[String]("url"))).toMap
    def before(a: String, b: String): Boolean = {
      val (ta, tb) = (ts(a), ts(b))
      ta.after(tb) || (ta == tb && a < b)
    }
    def splitDropped(kept: String, missing: String): Boolean =
      !comp.contains(missing) && comp.get(kept).exists { c =>
        val ms = members(c)
        ms.size % maxGroup == 0 && ms.forall(m => before(m, missing))
      }
    if (truth.isEmpty) 1.0
    else truth.count { case (a, b) =>
      comp.get(a).exists(c => comp.get(b).contains(c)) || splitDropped(a, b) || splitDropped(b, a)
    }.toDouble / truth.length
  }

  /** Violations of the cluster contract: every cluster has 2..maxGroup
    * rows, exactly one keeper, and the keeper's `alt_urls` lists exactly
    * the other members.
    */
  def clusterViolations(out: Seq[Row], maxGroup: Int): Seq[String] =
    out.groupBy(_.getAs[String]("cluster_id")).toSeq.flatMap { case (id, rows) =>
      val keepers = rows.filter(_.getAs[Boolean]("is_keeper"))
      val sizeBad =
        if (rows.size < 2 || rows.size > maxGroup) Seq(s"cluster $id has ${rows.size} rows")
        else if (rows.exists(_.getAs[Long]("cluster_size") != rows.size))
          Seq(s"cluster $id: cluster_size disagrees with its ${rows.size} rows")
        else Nil
      val keeperBad =
        if (keepers.size != 1) Seq(s"cluster $id has ${keepers.size} keepers")
        else {
          val alts = keepers.head.getAs[scala.collection.Seq[Row]]("alt_urls").map(_.getAs[String]("url"))
          val others = rows.filterNot(_.getAs[Boolean]("is_keeper")).map(_.getAs[String]("url"))
          if (alts.size != others.size || alts.toSet != others.toSet)
            Seq(s"cluster $id: keeper alt_urls differ from the other members")
          else Nil
        }
      sizeBad ++ keeperBad
    }
}
