package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import graft.SparkEntry

/** The query workloads: closed-loop passes over a fixed set of the
  * engine's declared queries (`SparkEntry.queries`), each query built
  * and then materialized through the `noop` sink, in an order drawn from
  * the seed.
  *
  * Set-up opens the input tables and runs one untimed check pass, which
  * compares every query's row count and order-independent digest with
  * the expected-digest file. Timed passes then run until the run's
  * seconds are used up, and at least twice.
  */
object QueryWorkload {
  val Light: Seq[String] = Seq("q1_lineitem_agg", "q_membership_level",
    "q_purchase_frequency", "q_customer_enrich", "q_sync_delete_antijoin",
    "q_exists_semijoin", "q_top5_sales", "q_upsert", "q_daily_load",
    "q_ingest_replay", "q_store_roundtrip", "q_point_lookup",
    "q_events_hourly", "q_category_routing", "q_stock_decrement")
  val Heavy: Seq[String] = Seq("q_mad_outliers", "q_containment_pipeline",
    "q_mmr_rerank", "q_kcore", "q_basket_pmi", "q_pagerank", "q_rm3_search",
    "q_weighted_quantiles")

  /** Scale factors of the generated tables, and their fixed data seed:
    * the query data does not vary with the run's seed, so the expected
    * digests hold for every run.
    */
  val LightSf = 0.05
  val HeavySf = 0.1
  val DataSeed = 42L

  def run(names: Seq[String], sf: Double)(r: Run): Unit = {
    val spark = r.spark
    val t0 = System.nanoTime()
    val dir = Inputs.ensure(spark, r.opts.cache, DataSeed, sf)
    r.setup("inputs_ms") = (System.nanoTime() - t0) / 1e6
    val key = Inputs.key(DataSeed, sf)
    r.extra("inputs") = key

    // open every input table once; fixtures derived from the tables
    // (store snapshots, search indexes) are built on first use, inside
    // the warm-up pass
    val f0 = r.nowMs
    Inputs.Tables.foreach(t => graft.Tables.loaders(t)(spark, dir).schema)
    r.setup("setup.fixtures_ms") = (r.nowMs - f0).toDouble

    // the untimed warm-up pass is the check pass
    val rnd = new scala.util.Random(r.opts.seed)
    val w0 = r.nowMs
    check(r, rnd.shuffle(names), dir, key)
    r.setup("setup.warm_ms") = (r.nowMs - w0).toDouble

    r.startTiming()
    val passes = mutable.ArrayBuffer[Double]()
    val queryWalls = mutable.ArrayBuffer[Double]()
    val passLayers = mutable.ArrayBuffer[Map[String, Double]]()
    // at least two passes: the first after a check pass still runs a
    // little cold, and the lower median of two is the warm one
    while (passes.size < 2 || r.timedSeconds < r.opts.seconds) {
      System.gc()
      val pass = passes.size
      var wall = 0.0
      val layerSum = mutable.Map[String, Double]().withDefaultValue(0.0)
      rnd.shuffle(names).foreach { n =>
        val m0 = r.nowMs
        val q0 = System.nanoTime()
        val built = r.attempt(s"$n build")(SparkEntry.queries(n)(spark, dir))
        val q1 = System.nanoTime()
        val m1 = r.nowMs
        val ok = built.exists { df =>
          r.attempt(s"$n run")(df.write.mode("overwrite").format("noop").save()).isDefined
        }
        val q2 = System.nanoTime()
        val m2 = r.nowMs
        val ms = (q2 - q0) / 1e6
        if (ok) queryWalls += ms
        wall += ms
        val counters = r.window(m0, m2)
        val build = r.tracer.fold(Map.empty[String, Double]) { _ =>
          // a frame is analysed as it is built: its action, which the
          // listener sees, finds the plan analysed already
          val analysis = built.flatMap(_.queryExecution.tracker.phases.get("analysis"))
            .fold(0.0)(_.durationMs.toDouble)
          Map("frame.build_ms" -> (q1 - q0) / 1e6,
            "frame.build_jobs" -> r.window(m0, m1).getOrElse("spark.jobs", 0.0),
            "plan.analysis_ms" -> (counters.getOrElse("plan.analysis_ms", 0.0) + analysis))
        }
        (counters ++ build).foreach { case (k, v) =>
          layerSum(k) = if (k == "exec.peak_mem_bytes") math.max(layerSum(k), v)
            else layerSum(k) + v
        }
        r.ops += Json.obj("kind" -> "query", "pass" -> pass, "name" -> n,
          "ok" -> ok, "wall_ms" -> ms, "build_ms" -> (q1 - q0) / 1e6,
          "counters" -> (counters ++ build), "callsites" -> r.callsites(m0, m2))
        r.hygiene()
      }
      passes += wall / 1e3
      passLayers += layerSum.toMap
    }
    r.e2e("peak_rss_mb") = r.peakRssMb
    r.e2e("op_p50_s") = Stats.median(passes.toSeq)
    r.e2e("rate_per_s") = queryWalls.size / (passes.sum max 1e-9)
    // the typical query, as the geometric mean: a median would sit on
    // whichever of the many 0.4-0.7 s queries ranks in the middle, and
    // jump between them from run to run
    r.e2e("step_s") = math.exp(queryWalls.map(ms => math.log(ms / 1e3)).sum / queryWalls.size)
    r.extra("passes_s") = passes.toSeq
    r.layers ++= Stats.meanOf(passLayers.toSeq)
  }

  /** The untimed check pass: each query's row count and digest against
    * the expected-digest file.
    */
  private def check(r: Run, names: Seq[String], dir: String, key: String): Unit = {
    val expected = ExpectedDigests.load(r.opts.digests)
    val got = mutable.LinkedHashMap[String, (Long, String)]()
    names.foreach { n =>
      r.attempt(s"$n check")(got(n) = Digest.of(SparkEntry.queries(n)(r.spark, dir)))
      r.hygiene()
    }
    r.opts.recordDigests.foreach(ExpectedDigests.save(_, key, got))
    got.foreach { case (n, (rows, digest)) =>
      expected.get(n) match {
        case Some(e) =>
          r.check(s"$n digest",
            e.inputs == key && rows == e.rows && digest == e.digest,
            s"rows $rows digest $digest on $key, expected rows ${e.rows} " +
              s"digest ${e.digest} on ${e.inputs}")
        case None => r.check(s"$n digest", ok = false, "no expected digest")
      }
    }
    r.extra("digests") = got.map { case (n, (rows, d)) =>
      n -> Json.obj("rows" -> rows, "digest" -> d) }
  }
}

/** The expected-digest file: `{"queries": {name: {"inputs": <key>,
  * "rows": n, "digest": "..."}}}`, one entry per query, recorded with
  * `--record-digests` on the inputs named by the entry's key.
  */
object ExpectedDigests {
  final case class Entry(inputs: String, rows: Long, digest: String)

  private val Line =
    """"([a-z0-9_]+)"\s*:\s*\{\s*"inputs"\s*:\s*"([^"]+)"\s*,\s*"rows"\s*:\s*(\d+)\s*,\s*"digest"\s*:\s*"([^"]+)"\s*\}""".r

  def load(path: String): Map[String, Entry] =
    if (path.isEmpty || !Files.exists(Paths.get(path))) Map.empty
    else Line.findAllMatchIn(Files.readString(Paths.get(path))).map { m =>
      m.group(1) -> Entry(m.group(2), m.group(3).toLong, m.group(4))
    }.toMap

  /** Merge `digests` into the file at `path`. */
  def save(path: String, inputs: String,
      digests: collection.Map[String, (Long, String)]): Unit = {
    val merged = (load(path) ++ digests.map { case (n, (rows, d)) =>
      n -> Entry(inputs, rows, d) }).toSeq.sortBy(_._1)
    val body = merged.map { case (n, e) =>
      s"""    "$n": {"inputs": "${e.inputs}", "rows": ${e.rows}, "digest": "${e.digest}"}"""
    }.mkString(",\n")
    Files.writeString(Paths.get(path),
      "{\n  \"queries\": {\n" + body + "\n  }\n}\n")
  }
}
