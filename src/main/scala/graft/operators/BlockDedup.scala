package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Fns

/** The reference's three-phase block dedup
  * (`/root/reference/src/news_recap/recap/tasks/oneshot_digest.py:500-691`),
  * re-expressed as scalable DataFrame plans.
  *
  * A "block" is (idx, title, article_ids). Phases:
  *   1. exact collapse — identical article-id *sets*; winner = longest
  *      title, earlier position on ties (A3)
  *   2. subset absorption — strict-subset blocks absorbed into their
  *      smallest superset (earliest on size ties), chains resolved
  *      transitively (J4)
  *   3. fuzzy merge — blocks whose *titles* embed within cosine >= 0.90
  *      merge into the block with (most ids, longest title, earliest);
  *      merged ids are the order-preserving union in block order (A4)
  *
  * Scale notes: phase 2's pair generation is an explode-join on shared
  * article ids (a subset pair must share every id of the smaller block, so
  * sharing one id is a complete candidate generator — no all-pairs); phase
  * 3 reuses the MinHash-LSH candidate machinery over titles. Absorption
  * chains are resolved on the driver: the absorbed map holds one row per
  * absorbed block, and strict-subset chains are acyclic.
  */
object BlockDedup {

  /** Phase 1+2: returns (idx, winner_idx) covering every input idx. */
  def exactAndSubset(spark: SparkSession, blocks: DataFrame): DataFrame = {
    val keyed = blocks.select(
      col("idx"), col("title"),
      array_sort(array_distinct(col("article_ids"))).as("key"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // phase 1: winner per identical key = max (len(title), -idx)
    val survivors = keyed
      .groupBy(col("key"))
      .agg(max_by(col("idx"),
        struct(length(col("title")).as("tl"), (-col("idx")).as("ni"))).as("winner"))
    val phase1 = keyed.join(survivors, "key")
      .select(col("idx"), col("winner"), col("key"))

    // unique winners, with key sizes
    val uniq = phase1.filter(col("idx") === col("winner"))
      .select(col("idx").as("uidx"), col("key"), size(col("key")).as("ksz"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // phase 2 candidates: pairs of unique blocks sharing >= 1 article id
    val exploded = uniq.select(col("uidx"), col("ksz"), explode(col("key")).as("aid"))
    val shared = exploded.as("a").join(exploded.as("b"),
        col("a.aid") === col("b.aid") && col("a.uidx") =!= col("b.uidx"))
      .groupBy(col("a.uidx").as("i"), col("b.uidx").as("j"),
        col("a.ksz").as("szi"), col("b.ksz").as("szj"))
      .agg(count(lit(1)).as("n_shared"))
    // strict subset: every id of i appears in j, and j is strictly bigger
    val subsetPairs = shared
      .filter(col("n_shared") === col("szi") && col("szi") < col("szj"))
    // smallest superset wins; ties -> smallest index (reference iteration order)
    val absorbed = subsetPairs
      .groupBy(col("i"))
      .agg(min_by(col("j"), struct(col("szj"), col("j"))).as("into"))

    // `absorbed` is a forest (sizes strictly increase along i -> into):
    // resolve every absorbed block's root on the driver, memoized
    val into = absorbed.select(col("i").cast("long"), col("into").cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val root = scala.collection.mutable.HashMap.empty[Long, Long]
    into.keys.foreach { i =>
      var path = List(i)
      var r = into(i)
      while (!root.contains(r) && into.contains(r)) { path = r :: path; r = into(r) }
      val top = root.getOrElse(r, r)
      path.foreach(root(_) = top)
    }
    import spark.implicits._
    val roots = spark.sparkContext.parallelize(root.toSeq).toDF("i", "root")
    val mapping = phase1.join(roots, col("winner") === col("i"), "left")
      .select(col("idx"),
        coalesce(col("root").cast(blocks.schema("idx").dataType), col("winner")).as("winner"))
      .localCheckpoint(true)
    keyed.unpersist()
    uniq.unpersist()
    mapping
  }

  /** Phase 3 over phase-1/2 output blocks: title-similarity merge.
    * Returns (idx, winner_idx, merged_article_ids-for-winners).
    */
  def fuzzyMerge(spark: SparkSession, blocks: DataFrame,
                 threshold: Double = 0.90): DataFrame = {
    // idx round-trips through a string url and back via cast("long") below;
    // a non-integral idx would come back null and corrupt the merge map
    // SILENTLY — fail loudly at the door instead (bigint idx contract).
    blocks.schema("idx").dataType match {
      case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType => ()
      case dt => throw new IllegalArgumentException(
        s"fuzzyMerge requires an integral idx column (bigint contract), got $dt")
    }
    // reuse the LSH+verify+CC machinery over titles (no group-size cap)
    val asPages = blocks.select(
      col("idx"), col("title").as("text"), col("article_ids"))
    val cfg = DedupConfig(threshold = threshold, maxGroupSize = Int.MaxValue)
    val sigs = DedupPipeline.signatures(
        asPages.withColumn("url", col("idx").cast("string"))
          .withColumn("warc_ts", lit(java.sql.Timestamp.valueOf("2026-01-01 00:00:00"))),
        cfg)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    sigs.count() // materialize before the multi-consumer fan-out (see DedupPipeline.run)
    val edges = DedupPipeline.verifiedEdges(sigs, DedupPipeline.candidates(sigs, cfg), cfg)
      .select(col("uid_a").as("src"), col("uid_b").as("dst"))
    val comps = ConnectedComponents.run(spark, edges)
      .join(sigs.select(col("uid"), col("url")), col("id") === col("uid"))
      .select(col("url").cast("long").as("idx"), col("component"))
    sigs.unpersist()

    // singletons get their own partition key so no giant null-group window
    val clustered = blocks.join(comps, Seq("idx"), "left")
      .withColumn("ck", coalesce(col("component"),
        struct(col("idx").as("h1"), col("idx").as("h2"))))

    import org.apache.spark.sql.expressions.Window
    val wFull = Window.partitionBy(col("ck"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val wWinner = Window.partitionBy(col("ck"))
      .orderBy(size(col("article_ids")).desc, length(col("title")).desc, col("idx").asc)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)

    clustered
      .withColumn("winner", first(col("idx")).over(wWinner))
      .withColumn("merged_ids", array_distinct(flatten(transform(
        array_sort(collect_list(struct(col("idx"), col("article_ids"))).over(wFull)),
        x => x.getField("article_ids")))))
      .select(col("idx"), col("winner"),
        when(col("idx") === col("winner"), col("merged_ids")).as("merged_ids"))
  }

  /** Full pipeline: blocks (idx, title, article_ids) + sections
    * (section_id, title, block_indices) -> (deduped blocks with new dense
    * indices, remapped sections). Mirrors `_dedup_blocks` +
    * `_fuzzy_merge_blocks` composition.
    */
  def run(spark: SparkSession, blocks: DataFrame, sections: DataFrame,
          fuzzyThreshold: Double = 0.90): (DataFrame, DataFrame) = {
    val m12 = exactAndSubset(spark, blocks) // idx -> winner
    val b12 = blocks.join(m12.filter(col("idx") === col("winner")).select("idx"), "idx")

    val m3 = fuzzyMerge(spark, b12, fuzzyThreshold) // idx -> winner (+ merged ids)
    val finalWinners = m3.filter(col("idx") === col("winner"))
      .select(col("idx"), col("merged_ids"))

    // dense new indices in old order (reference: sorted final winner idx).
    // Two-pass range-partitioned zipWithIndex — an unpartitioned
    // row_number window would funnel every final block through one task.
    val renumbered = SkewOps.globalDenseIndex(finalWinners, col("idx"), "new_idx")

    val dedupedBlocks = blocks.join(renumbered, Seq("idx"))
      .select(col("new_idx").as("idx"), col("title"),
        col("merged_ids").as("article_ids"))

    // full old->new mapping: phase12 then phase3 then renumber
    val oldToNew = m12.select(col("idx").as("o"), col("winner").as("w12"))
      .join(m3.select(col("idx").as("w12"), col("winner").as("w3")), "w12")
      .join(renumbered.select(col("idx").as("w3"), col("new_idx")), "w3")
      .select(col("o"), col("new_idx"))

    val remapped = sections
      .select(col("section_id"), col("title"),
        posexplode(col("block_indices")).as(Seq("pos", "bi")))
      .join(oldToNew, col("bi") === col("o"))
      .groupBy(col("section_id"), col("title"))
      .agg(array_distinct(transform(
        array_sort(collect_list(struct(col("pos"), col("new_idx")))),
        x => x.getField("new_idx"))).as("block_indices"))
      .filter(size(col("block_indices")) > 0)

    (dedupedBlocks, remapped)
  }
}
