package graft

import java.sql.Timestamp
import org.apache.spark.sql.functions._

/** Emits PLANS.md: the formatted physical plans of the load-bearing
  * queries, as committed evidence of the plan shapes the engine relies
  * on (pushdown, pruning, broadcast, codegen spans, top-k). PlanSpec
  * asserts these properties as tests; this artifact makes them
  * readable. Usage, from the repository root: runMain graft.Plans
  * (writes PLANS.md; scratch goes under target/).
  */
object Plans {
  import graft.pipeline._

  def main(args: Array[String]): Unit = {
    val spark = BenchPipeline.session(8)
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "plans").toString
    Synth.writeTable(spark, s"$dir/input", 42L, 50L)
    val out = new StringBuilder

    def section(title: String, notes: String,
        df: org.apache.spark.sql.DataFrame): Unit = {
      df.count() // materialize -> AQE final plan
      out ++= s"\n## $title\n\n$notes\n\n```\n"
      out ++= df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      out ++= "```\n"
    }

    out ++= "# PLANS — formatted physical plans of the load-bearing queries\n"
    out ++= "\nGenerated by `runMain graft.Plans` on the synthetic table;\n"
    out ++= "each property shown here is pinned as a test in PlanSpec.\n"

    val cfg = PipelineConfig(s"$dir/input", s"$dir/sinks")
    val wms = Map("2025-01-01" -> new Timestamp(Synth.baseEpochMs + 3600000L))
    val asOf = new Timestamp(Synth.baseEpochMs + 365L * 86400000L)
    section("Incremental discovery (watermark pushed into the scan)",
      "`PushedFilters` carries the per-day ts bounds to Parquet " +
        "row-group stats; `PartitionFilters` prunes the day partitions — " +
        "no watermark join anywhere.",
      Discover.delta(spark, cfg, asOf, wms))

    section("Full pipeline pass (parse -> route -> enrich -> fused prefix scan)",
      "One wide exchange (the (conv, chunk) repartition for the window); " +
        "dims join as BroadcastHashJoin; the carry join is SHUFFLE_HASH " +
        "(hinted — AQE's broadcast conversion measured 6-20x slower); " +
        "parse/route/enrich all inside WholeStageCodegen spans.",
      Pipeline(spark.read.schema(
          Schema.turnSchema.add("day", org.apache.spark.sql.types.StringType))
        .parquet(s"$dir/input").as[Turn]))

    section("Per-sink aggregate (single grouped pass)",
      "Partial (map-side) + final hash aggregate; the fat `text`/`body` " +
        "columns are pruned out of the shuffle because routing runs " +
        "before the wide step.",
      Pipeline(spark.read.schema(
          Schema.turnSchema.add("day", org.apache.spark.sql.types.StringType))
        .parquet(s"$dir/input").as[Turn])
        .groupBy($"sink", $"role", $"tool_category",
          window($"ts", "1 hour").getField("start").as("hour_start"))
        .agg(count(lit(1)).as("n_turns")))

    section("Exact cosine top-k",
      "TakeOrderedAndProject: per-partition heap + driver merge, " +
        "never a global sort shuffle.",
      graft.ops.Similarity.cosineTopK(
        spark.range(1000).select($"id".as("vec_id"),
          array((0 until 8).map(i => (rand(i) * 2 - 1).cast("float")): _*)
            .as("embedding")),
        "vec_id", "embedding", Seq.fill(8)(0.5), 10))

    section("LSH-bucketed near-dup pairs (e02 shape)",
      "The self-join is an EQUI-join on the LSH bucket id (SortMerge/" +
        "ShuffledHash on `_b`), never BroadcastNestedLoopJoin/Cartesian — " +
        "pairs form only within buckets, with a per-bucket size cap.",
      graft.ops.Similarity.cosineNearDupPairs(
        spark.range(300).select($"id".as("vec_id"),
          array((0 until 8).map(i => (rand(i) * 2 - 1).cast("float")): _*)
            .as("embedding")),
        "vec_id", "embedding", dims = 8, threshold = 0.35, nPlanes = 4))

    section("d18 label-propagation step (cluster-resolution shape)",
      "One iteration of `Dedup.resolveClusters` — the PRODUCTION " +
        "`Dedup.propagationStep`, not a replica: ONE edges->labels " +
        "EQUI-join delivering neighbor labels as messages, unioned with " +
        "tagged self-messages, folded by ONE grouped min — every " +
        "shuffle keyed on the id, no cartesian/nested-loop anywhere " +
        "(r9 removed the former fold-back left join: one less " +
        "join+exchange per iteration). The operator repeats exactly " +
        "this step under an eager localCheckpoint (plan truncation), so " +
        "the per-iteration plan IS the whole story; PlanSpec pins the " +
        "same step's shape.",
      {
        val pairs = spark.range(200).select(
          concat(lit("n"), $"id" % 50).as("id_a"),
          concat(lit("n"), $"id" % 80).as("id_b"))
        val edges = pairs.select($"id_a".as("src"), $"id_b".as("dst"))
          .union(pairs.select($"id_b".as("src"), $"id_a".as("dst")))
          .distinct()
        val labels = edges.select($"src".as("id")).distinct()
          .withColumn("label", $"id")
        graft.ops.Dedup.propagationStep(edges, labels)
      })

    section("Incremental LSH against the persisted band store (d21 " +
        "production shape)",
      "The stored band table enters through a FileScan and meets ONE " +
        "BroadcastHashJoin LEFT SEMI on the touched (band, sig) keys — " +
        "no exchange below it, no re-shingle of the stored frame " +
        "(PlanSpec walks the ancestor chain); the first wide op above " +
        "the store is the bucket aggregate.",
      {
        val docs = spark.range(300).select($"id".as("doc_id"),
          concat(lit("text sample line number "), $"id" % 37).as("text"))
        def bandsOf(df: org.apache.spark.sql.DataFrame) =
          graft.ops.Dedup.lshBands(
            graft.ops.Dedup.minhashSignatures(df, "doc_id", "text", 3, 8),
            "doc_id", 8, 2)
        graft.ops.Dedup.writeBands(bandsOf(docs.filter($"doc_id" < 250)),
          dir, "plans", "b1", "doc_id")
        graft.ops.Dedup.incrementalLshPairs(
          graft.ops.Dedup.readBands(spark, dir, "plans", Set("b1"),
            dedupRows = false).get,
          bandsOf(docs.filter($"doc_id" >= 250)), "doc_id")
      })

    section("BPE-token-window chunking (d14 shape)",
      "Per-word native BPE tokenization (codegen'd ranks-map " +
        "expression) + windowing, all inside one narrow " +
        "Project/Generate chain — ZERO exchanges; the 48k-merge table " +
        "never appears in the plan (one per-JVM hash map).",
      {
        val docs = spark.range(200).select($"id".as("doc_id"),
          concat(lit("alpha beta42 gamma delta epsilon zeta "),
            $"id" % 17).as("text"))
        graft.ops.TextAnalysis.chunkPlan(docs, window = 32, stride = 24,
          tokensExpr = Some(flatten(transform(
            graft.ops.Bpe.normalizeWords($"text"),
            w => graft.functions.BpeExprs.bpeTokens(w,
              graft.ops.Bpe.realVocab)))))
      })

    section("N-gram LM scoring with stupid backoff (d24 shape)",
      "The exploded token stream meets the LM table through TWO " +
        "BroadcastHashJoins (bigram key, unigram key) — the corpus is " +
        "never shuffled on its own size; the only Exchange is the " +
        "final per-doc hash aggregate (map-side partial first).",
      {
        val docs = spark.range(300).select($"id".as("doc_id"),
          concat(lit("the table join batch value hash "),
            $"id" % 23).as("text"))
        graft.ops.TextAnalysis.lmScore(docs,
          graft.Queries.d24Lm.toDF("gram", "logp_x1e6"))
      })

    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("PLANS.md"), out.toString)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    spark.stop()
  }
}
