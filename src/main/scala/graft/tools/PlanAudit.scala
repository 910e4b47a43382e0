package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.operators.{OmeOps, TextOps}
import graft.schema.Fixtures

/** Physical-plan audit: pruning / pushdown / broadcast / shuffle counts. */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // Arg shapes: [] fixed battery; [dir] fixed battery on dir;
    // [names] / [names, dir] audit the named registry queries. A path
    // is recognized by its '/' so a lone dir is never misread as a
    // query list (the Verify arg-order footgun class).
    val (queryArg, dir) = args.toList match {
      case Nil => (None, "/root/testdata/sf0.01")
      case d :: Nil if d.contains("/") => (None, d)
      case q :: Nil => (Some(q), "/root/testdata/sf0.01")
      case q :: d :: _ => (Some(q), d)
    }

    def audit(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
      val plan = df.queryExecution.executedPlan.toString
      val shuffles = "Exchange".r.findAllIn(plan).length -
        "BroadcastExchange".r.findAllIn(plan).length
      val bcasts = "BroadcastExchange".r.findAllIn(plan).length
      val wsc = "WholeStageCodegen".r.findAllIn(plan).length
      println(f"$name%-24s shuffles=$shuffles bcast=$bcasts codegenSpans=$wsc")
    }

    // Generic mode: `runMain graft.tools.PlanAudit q1,q2[ sfDir]` audits
    // the named registry queries instead of the fixed battery.
    queryArg.foreach { qs =>
      qs.split(",").map(_.trim).filter(_.nonEmpty).foreach { n =>
        audit(n, graft.SparkEntry.queries(n)(spark, dir))
      }
      spark.stop(); return
    }

    // describe over a parquet-backed corpus: must read only metadata
    graft.sources.OmeParquet.write(Fixtures.mixedCorpus(spark), "/tmp/audit_pq")
    val described = OmeOps.describe(graft.sources.OmeParquet.read(spark, "/tmp/audit_pq"))
    audit("describe(parquet)", described)
    val scan = described.queryExecution.executedPlan.toString
    val readSchema = "ReadSchema: [^\n]+".r.findFirstIn(scan).getOrElse("?")
    println("  describe ReadSchema: " + readSchema.take(200))
    println("  reads planes? " + readSchema.contains("planes"))

    // slice: pure per-record expression -> zero shuffles
    audit("slice(nested)", OmeOps.sliceOmeArrow(Fixtures.corpus4d(spark), 1, 7, 1, 7))
    audit("downscale2x", OmeOps.downscale2x(Fixtures.corpus4d(spark)))

    // relational joins: dims must broadcast
    val q5 = graft.SparkEntry.queries("q5_region_revenue")(spark, dir)
    audit("q5_region_revenue", q5)
    val q1 = graft.SparkEntry.queries("q1_agg")(spark, dir)
    audit("q1_agg", q1)
    val q1plan = q1.queryExecution.executedPlan.toString
    println("  q1 partial agg before shuffle? " +
      q1plan.contains("HashAggregate(keys=[l_returnflag"))

    // filter pushdown check on a filtered scan
    val filtered = spark.read.parquet(s"$dir/lineitem.parquet")
      .filter(col("l_quantity") > 45).select(col("l_orderkey"))
    val fplan = filtered.queryExecution.executedPlan.toString
    println("  pushdown: " + "PushedFilters: [^\n]+".r.findFirstIn(fplan).getOrElse("NONE").take(120))

    audit("minhash_pairs", TextOps.nearDupPairs(
      spark.read.parquet(s"$dir/documents.parquet")))
    audit("cosine_topk", graft.operators.VectorOps.cosineTopK(
      spark.read.parquet(s"$dir/embeddings.parquet"), 8, 10))

    // corpus zarr read: the omezarr scan, one store per partition; the
    // reader decodes and zero-fills each record, so no exchange
    graft.sources.OmeZarr.write(Fixtures.corpus4d(spark), "/tmp/audit_zarr")
    audit("zarr readAll", graft.sources.OmeZarr.readAll(spark, "/tmp/audit_zarr"))

    // exploded-form scale pipeline: crop+downscale stages must stay
    // narrow — the only exchange is the final per-image rollup
    val pipeline = OmeOps.downscalePlanes(OmeOps.cropPlanes(
        OmeOps.explodePlanes(Fixtures.corpus4d(spark)), 2, 6, 1, 7))
      .groupBy(col("image_id"))
      .agg(count(lit(1)).as("n"))
    audit("scale pipeline", pipeline)

    // new r5 operators: aggregation-only (repetition), posting joins
    // (contamination — eval side broadcast by AQE at this size), and the
    // coarse-cluster semantic dedup (one codebook broadcast)
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    audit("repetition_stats", TextOps.repetitionStats(docs))
    audit("contamination", TextOps.contamination(
      docs.filter(col("doc_id") % 25 =!= 0), docs.filter(col("doc_id") % 25 === 0)))
    audit("semantic_dedup", graft.operators.VectorOps.semanticDedup(
      spark.read.parquet(s"$dir/embeddings.parquet"), 0.3))
    audit("pii_scrub", TextOps.piiScrub(docs))

    // r6 operators: multi-probe IVF (probe fan-out must stay broadcast-
    // side; the corpus shuffles once on cluster) and the sub-plane
    // chunk-grid read (planes assemble inside the store's partition, so
    // still no exchange)
    audit("ivf_multiprobe", graft.operators.VectorOps.ivfTopKProbed(
      spark.read.parquet(s"$dir/embeddings.parquet"), 16, 5, nProbe = 3))
    graft.sources.OmeZarr.write(Fixtures.corpus4d(spark),
      "/tmp/audit_zarr_chunked", chunks = Some(Seq(1, 1, 2, 4, 8)))
    audit("zarr chunked read",
      graft.sources.OmeZarr.readAll(spark, "/tmp/audit_zarr_chunked"))

    // ometiff v2: pruned read schema must not reach pixels for a
    // metadata projection
    graft.sources.OmeTiff.write(Fixtures.corpus4d(spark), "/tmp/audit_tiffs")
    val metaProj = spark.read.format("ometiff").load("/tmp/audit_tiffs")
      .select(col("ome_arrow.id"), col("ome_arrow.pixels_meta.size_x"))
    audit("ometiff v2 meta", metaProj)
    val v2scan = metaProj.queryExecution.executedPlan.collectLeaves()
      .collectFirst {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          b.scan.readSchema().catalogString
      }.getOrElse("?")
    println("  v2 readSchema: " + v2scan.take(160))
    println("  v2 scan decodes pixels? " + v2scan.contains("pixels:array"))

    // LM-pipeline scoring operators (all equi-join + keyed-agg shapes)
    audit("lm_perplexity", graft.SparkEntry.queries("lm_perplexity")(spark, dir))
    audit("tfidf_topk", graft.SparkEntry.queries("tfidf_topk")(spark, dir))
    audit("importance_weights",
      graft.SparkEntry.queries("importance_weights")(spark, dir))
    audit("pipeline_end_to_end",
      graft.SparkEntry.queries("pipeline_end_to_end")(spark, dir))

    // round-7 additions: PQ family, z-projection, shuffle/quality ops
    audit("embed_ann_pq", graft.SparkEntry.queries("embed_ann_pq")(spark, dir))
    audit("embed_ann_ivfpq",
      graft.SparkEntry.queries("embed_ann_ivfpq")(spark, dir))
    audit("ome_zproject_max",
      graft.SparkEntry.queries("ome_zproject_max")(spark, dir))
    audit("gopher_quality",
      graft.SparkEntry.queries("gopher_quality")(spark, dir))
    audit("shuffle_rank", graft.SparkEntry.queries("shuffle_rank")(spark, dir))
    spark.stop()
  }
}
