package perfbench

import java.nio.file.{Files, Paths}
import java.sql.DriverManager

import scala.collection.mutable

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col

import graft.jobs.{DailyLoadJob, HourlySyncJob}
import graft.sinks.DeleteInsertUpsertDialect
import graft.streaming.{Ingest, TableStore}

/** The `pos_pipeline` workload: the reference POS flow, replayed.
  *
  * Seeded events on the nine reference topics arrive in fixed-size
  * ticks. Each tick is fed to a `MemoryStream` standing in for Kafka and
  * applied by one `Ingest.startIngest` run (Trigger.AvailableNow) into a
  * `TableStore`. After every tick `HourlySyncJob.runAll` syncs the store
  * into an in-process Derby warehouse (the reference's hourly batch and
  * hourly sync). A tick carries 12 simulated hours, so every second tick
  * closes a simulated day, which `DailyLoadJob.run` then loads.
  * Set-up bootstraps the dimensions and runs [[WarmSteps]] untimed
  * steps; timed steps (tick, sync, daily load when due) then run in
  * whole simulated days until the run's seconds are used up, and at
  * least for one simulated day.
  *
  * Correctness: a sequential replay model of the same events is
  * compared with the final `TableStore` snapshot, with the warehouse
  * after the last sync, and with every daily load.
  */
object Pipeline {
  val PerTick = 1000
  val HoursPerTick = 12
  val TicksPerDay: Int = 24 / HoursPerTick
  val ProductsPerCategory = 40
  val Customers = 400
  val BootstrapSales = 2000
  /** Untimed steps after the bootstrap (one simulated day). Tick times
    * still fall by a few percent per tick after these, as the JIT
    * catches up; more warm-up would not fit the per-run time budget.
    */
  val WarmSteps = 2

  val SaleCols: Seq[String] = Ingest.saleSchema.fieldNames.toSeq
  val ProductCols: Seq[String] = Ingest.productSchema.fieldNames.toSeq

  def run(r: Run): Unit = {
    val spark = r.spark
    val work = r.opts.work
    System.setProperty("derby.system.home", s"$work/derby")
    val url = "jdbc:derby:memory:perfbench;create=true"
    val store = new TableStore(s"$work/store")
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val stream = MemoryStream[(String, String, Long)]
    val raw = stream.toDF().toDF("topic", "value", "seq")
    val gen = new PosEventGen(r.opts.seed, PerTick, HoursPerTick)
    val model = new ReplayModel
    val sync = new HourlySyncJob(url, dialect = DeleteInsertUpsertDialect)
    // what the warehouse must hold: the model as of the last sync, and
    // every row each daily load appended
    var synced: Option[Expected] = None
    val dailyRows = mutable.ArrayBuffer[(Long, Sale)]()

    val tickWalls = mutable.ArrayBuffer[Double]()
    val tickEvents = mutable.ArrayBuffer[Int]()
    val tickLayers = mutable.ArrayBuffer[Map[String, Double]]()
    val syncWalls = mutable.ArrayBuffer[Double]()
    val syncLayers = mutable.ArrayBuffer[Map[String, Double]]()
    val dailyWalls = mutable.ArrayBuffer[Double]()
    val dailyLayers = mutable.ArrayBuffer[Map[String, Double]]()
    var timed = false

    def tick(t: Int, events: Seq[PosEvent]): Unit = {
      model.apply(events)
      stream.addData(events.map(e => (e.topic, e.json, e.seq)))
      val filesBefore = if (r.opts.trace) countFiles(s"$work/store") else 0L
      val m0 = r.nowMs
      val t0 = System.nanoTime()
      val progress = r.attempt(s"tick $t") {
        val q = Ingest.startIngest(spark, raw, store, s"$work/checkpoint")
        q.awaitTermination()
        q.recentProgress.toSeq
      }
      val wall = (System.nanoTime() - t0) / 1e6
      val counters = r.window(m0, r.nowMs)
      val layers = if (!r.opts.trace) Map.empty[String, Double] else {
        def phase(k: String): Double = progress.toSeq.flatten
          .map(p => Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)).sum
        val rows = counters("output.rows")
        Map(
          "Ingest.start_ms" -> (wall - phase("triggerExecution")),
          "Ingest.add_batch_ms" -> phase("addBatch"),
          "Ingest.query_planning_ms" -> phase("queryPlanning"),
          "Ingest.wal_commit_ms" -> phase("walCommit"),
          "Ingest.commit_offsets_ms" -> phase("commitOffsets"),
          "Ingest.jobs" -> counters("spark.jobs"),
          "TableStore.rows_written" -> rows,
          "TableStore.bytes_written" -> counters("output.bytes"),
          "TableStore.files_written" ->
            (countFiles(s"$work/store") - filesBefore).toDouble.max(0.0),
          "TableStore.live_versions" -> Seq("sales", "products", "customers")
            .map(store.liveVersionCount).sum.toDouble,
          "TableStore.rewrite_ratio" -> (if (rows > 0) events.size / rows else 0.0))
      }
      r.ops += Json.obj("kind" -> "tick", "index" -> t, "timed" -> timed,
        "ok" -> progress.isDefined, "events" -> events.size, "wall_ms" -> wall,
        "counters" -> (counters ++ layers), "callsites" -> r.callsites(m0, r.nowMs))
      if (timed) {
        tickWalls += wall / 1e3
        tickEvents += events.size
        tickLayers += counters ++ layers
      }
    }

    def runSync(index: Int): Unit = {
      val before = if (r.opts.trace) Some(Warehouse.snapshot(url)) else None
      WarehouseWrites.drain()
      val m0 = r.nowMs
      val t0 = System.nanoTime()
      val ok = r.attempt(s"sync $index") {
        val fresh = (
          store.read(spark, "sales", Ingest.saleSchema),
          store.read(spark, "products", Ingest.productSchema),
          store.read(spark, "customers", Ingest.customerSchema))
        val t1 = System.nanoTime()
        val m1 = r.nowMs
        sync.runAll(spark, fresh._1, fresh._2, fresh._3)
        (t1, m1)
      }
      val wall = (System.nanoTime() - t0) / 1e6
      val m2 = r.nowMs
      val written = WarehouseWrites.drain()
      synced = Some(Expected.of(model))
      val layers = (r.tracer, ok, before) match {
        case (Some(tr), Some((t1, m1)), Some(b)) =>
          val after = Warehouse.snapshot(url)
          val sinkJobs = tr.jobsIn(m1, m2).filter(_.callsite.contains("JdbcUpsertSink"))
          // sync() deletes stale keys first, then upserts: the first
          // sink call site seen is the delete
          val deleteSite = sinkJobs.headOption.map(_.callsite)
          def busy(pick: String => Boolean): Double = Tracer.unionMs(
            sinkJobs.filter(j => pick(j.callsite)).map(j => (j.start, j.end))).toDouble
          val changed = Warehouse.changed(b, after)
          Map(
            "frame.build_ms" -> (t1 - t0) / 1e6,
            "frame.build_jobs" -> r.window(m0, m1)("spark.jobs"),
            "JdbcSource.read_ms" -> tr.jdbcScanMs(m1, m2).toDouble,
            "JdbcUpsertSink.delete_ms" -> busy(s => deleteSite.contains(s)),
            "JdbcUpsertSink.upsert_ms" -> busy(s => !deleteSite.contains(s)),
            "JdbcUpsertSink.rows_written" -> written.toDouble,
            "JdbcUpsertSink.useful_ratio" ->
              (if (written > 0) changed.toDouble / written else 0.0))
        case _ => Map.empty[String, Double]
      }
      r.ops += Json.obj("kind" -> "sync", "index" -> index, "timed" -> timed,
        "ok" -> ok.isDefined, "wall_ms" -> wall,
        "counters" -> (r.window(m0, m2) ++ layers),
        "callsites" -> r.callsites(m0, m2))
      if (timed) {
        syncWalls += wall / 1e3
        syncLayers += layers
      }
    }

    def dailyLoad(day: Int): Unit = {
      val date = java.time.LocalDate.ofEpochDay(PosEventGen.Epoch / 86400 + day).toString
      val rowsBefore = if (r.opts.trace) Warehouse.count(url, "sales_daily") else 0L
      val m0 = r.nowMs
      val t0 = System.nanoTime()
      val ok = r.attempt(s"daily load $date") {
        val extract = store.read(spark, "sales", Ingest.saleStoreSchema)
          .filter(col(Ingest.saleDayCol) === date)
          .select(SaleCols.map(col): _*)
        DailyLoadJob.run(extract, url, "sales_daily")
      }
      val wall = (System.nanoTime() - t0) / 1e6
      dailyRows ++= model.sales.filter(_._2.day == date)
      val layers = if (!r.opts.trace) Map.empty[String, Double] else Map(
        "DailyLoadJob.ms" -> wall,
        "DailyLoadJob.rows" ->
          (Warehouse.count(url, "sales_daily") - rowsBefore).toDouble)
      r.ops += Json.obj("kind" -> "daily_load", "index" -> day, "timed" -> timed,
        "ok" -> ok.isDefined, "wall_ms" -> wall,
        "counters" -> (r.window(m0, r.nowMs) ++ layers),
        "callsites" -> r.callsites(m0, r.nowMs))
      if (timed) {
        dailyWalls += wall / 1e3
        dailyLayers += layers
      }
    }

    // one simulated tick, then the sync, then the daily load when the
    // tick closed a simulated day
    def step(t: Int): Unit = {
      tick(t, gen.tick(t))
      runSync(t)
      if ((t + 1) % TicksPerDay == 0) dailyLoad(t / TicksPerDay)
    }

    // set-up: warehouse schema and the dimension bootstrap, then the
    // untimed warm-up steps
    val f0 = r.nowMs
    Warehouse.create(url)
    if (r.opts.trace) Warehouse.traceWrites(url)
    tick(-1, gen.bootstrap(ProductsPerCategory, Customers, BootstrapSales))
    r.setup("setup.fixtures_ms") = (r.nowMs - f0).toDouble
    val w0 = r.nowMs
    (0 until WarmSteps).foreach(step)
    r.setup("setup.warm_ms") = (r.nowMs - w0).toDouble

    r.startTiming()
    timed = true
    var t = WarmSteps
    while (t < WarmSteps + TicksPerDay || t % TicksPerDay != 0 ||
        r.timedSeconds < r.opts.seconds) {
      step(t)
      t += 1
    }
    timed = false
    r.e2e("peak_rss_mb") = r.peakRssMb
    r.e2e("op_p50_s") = Stats.median(tickWalls.toSeq)
    r.e2e("rate_per_s") = tickEvents.sum / (tickWalls.sum max 1e-9)
    // warehouse time per tick: one sync per tick, one daily load per
    // simulated day
    r.e2e("step_s") = Stats.median(syncWalls.toSeq) +
      Stats.median(dailyWalls.toSeq) / TicksPerDay
    r.extra("ticks_s") = tickWalls.toSeq
    r.extra("syncs_s") = syncWalls.toSeq
    r.extra("daily_loads_s") = dailyWalls.toSeq
    r.extra("tick_tail") = Stats.tail(tickWalls.toSeq)
      .map { case (p, v) => Json.obj("percentile" -> p, "value_s" -> v) }

    if (r.opts.trace) {
      // over the first timed simulated day, which every run of a seed
      // replays identically, so the counters repeat exactly
      val perTick = Stats.meanOf(tickLayers.take(TicksPerDay).toSeq)
      val perSync = Stats.meanOf(syncLayers.take(TicksPerDay).toSeq)
      val perLoad = Stats.meanOf(dailyLayers.take(1).toSeq)
      val workloadOnly = Set("Ingest.start_ms", "Ingest.add_batch_ms",
        "Ingest.query_planning_ms", "Ingest.wal_commit_ms",
        "Ingest.commit_offsets_ms", "JdbcSource.read_ms",
        "JdbcUpsertSink.delete_ms", "JdbcUpsertSink.upsert_ms", "DailyLoadJob.ms")
      // the Spark and Catalyst layers are per tick, the sync's and the
      // daily load's own metrics per sync and per load
      (perTick ++ perSync ++ perLoad).foreach { case (k, v) =>
        if (workloadOnly(k)) r.workloadLayers(k) = v else r.layers(k) = v
      }
    }

    checkStore(r, store, model)
    synced.foreach(checkWarehouse(r, url, _, dailyRows.toSeq))
  }

  private def countFiles(dir: String): Long =
    if (!Files.exists(Paths.get(dir))) 0L
    else {
      val walk = Files.walk(Paths.get(dir))
      try walk.filter(p => Files.isRegularFile(p)).count()
      finally walk.close()
    }

  private def checkStore(r: Run, store: TableStore, model: ReplayModel): Unit = {
    val spark = r.spark
    val sales = store.read(spark, "sales", Ingest.saleStoreSchema).collect()
      .map(row => row.getLong(0) -> (Sales.of(row.toSeq.slice(1, 8)), row.getString(8)))
      .toMap
    r.check("store sales = replay model",
      sales.map { case (k, (s, _)) => k -> s } == model.sales.toMap &&
        sales.forall { case (_, (s, day)) => s.day == day },
      s"${sales.size} rows, model ${model.sales.size}")
    val products = store.read(spark, "products", Ingest.productSchema).collect()
      .map(row => row.getInt(0) -> Products.of(row.toSeq.tail)).toMap
    r.check("store products = replay model", products == model.products.toMap,
      s"${products.size} rows, model ${model.products.size}")
    val customers = store.read(spark, "customers", Ingest.customerSchema).collect()
      .map(row => row.getInt(0) -> Customer(row.getString(1), row.getString(2))).toMap
    r.check("store customers = replay model", customers == model.customers.toMap,
      s"${customers.size} rows, model ${model.customers.size}")
  }

  private def checkWarehouse(
      r: Run, url: String, want: Expected, daily: Seq[(Long, Sale)]): Unit = {
    val sales = Warehouse.rows(url, s"SELECT ${SaleCols.mkString(", ")} FROM sales")
      .map(row => row.head.asInstanceOf[Long] -> Sales.of(row.tail)).toMap
    r.check("warehouse sales = model at last sync", sales == want.sales,
      s"${sales.size} rows, expected ${want.sales.size}")
    val products = Warehouse.rows(url,
      s"SELECT ${ProductCols.mkString(", ")} FROM products")
      .map(row => row.head.asInstanceOf[Int] -> Products.of(row.tail)).toMap
    r.check("warehouse products = model at last sync", products == want.products,
      s"${products.size} rows, expected ${want.products.size}")
    val customers = Warehouse.rows(url, "SELECT customer_id, customer_name, " +
      "customer_location, sum_purchase, purchase_frequency, membership_level " +
      "FROM customers")
    val bad = customers.count { row =>
      val id = row.head.asInstanceOf[Int]
      !want.customers.get(id).exists(_.matches(row.tail))
    }
    r.check("warehouse customers = enriched model at last sync",
      customers.size == want.customers.size && bad == 0,
      s"${customers.size} rows, expected ${want.customers.size}, $bad mismatched")
    val loaded = Warehouse.rows(url,
      s"SELECT ${SaleCols.mkString(", ")} FROM sales_daily")
      .map(row => row.head.asInstanceOf[Long] -> Sales.of(row.tail))
    r.check("warehouse daily loads = model per closed day",
      loaded.groupBy(identity).view.mapValues(_.size).toMap ==
        daily.groupBy(identity).view.mapValues(_.size).toMap,
      s"${loaded.size} rows, expected ${daily.size}")
  }

  /** Row cells in `Ingest.saleSchema` order (after the id) → a sale. */
  object Sales {
    def of(c: Seq[Any]): Sale = Sale(c(0).asInstanceOf[String],
      c(1).asInstanceOf[Int], c(2).asInstanceOf[Int], c(3).asInstanceOf[Int],
      c(4).asInstanceOf[Double], c(5).asInstanceOf[Double], c(6).asInstanceOf[String])
  }

  object Products {
    def of(c: Seq[Any]): Product = Product(c(0).asInstanceOf[String],
      c(1).asInstanceOf[String], c(2).asInstanceOf[String],
      c(3).asInstanceOf[Double], c(4).asInstanceOf[Int])
  }

  /** An enriched warehouse customer as the sync must write it: spend is
    * compared to the cent, and a spend within 1e-6 of a tier threshold
    * accepts either neighbouring tier (the engine sums doubles in
    * whatever order its partitions give).
    */
  final case class EnrichedCustomer(c: Customer, exactSpend: BigDecimal, count: Long) {
    def matches(cells: Seq[Any]): Boolean = {
      val spend = cells(2).asInstanceOf[Double]
      cells(0) == c.name && cells(1) == c.location &&
        math.abs(spend - exactSpend.toDouble) <= 0.0051 &&
        cells(3).asInstanceOf[Long] == count &&
        tiers.contains(cells(4).asInstanceOf[String])
    }
    private def tiers: Set[String] = {
      def tier(x: BigDecimal): String =
        if (x < 100) "Bronze" else if (x < 500) "Silver"
        else if (x < 2000) "Gold" else "Platinum"
      val eps = BigDecimal("0.000001")
      Set(tier(exactSpend), tier(exactSpend - eps), tier(exactSpend + eps))
    }
  }

  final case class Expected(
      sales: Map[Long, Sale], products: Map[Int, Product],
      customers: Map[Int, EnrichedCustomer])

  object Expected {
    def of(m: ReplayModel): Expected = {
      val bySpender = m.sales.values.groupBy(_.customerId)
      Expected(m.sales.toMap, m.products.toMap, m.customers.map { case (id, c) =>
        val own = bySpender.getOrElse(id, Nil)
        id -> EnrichedCustomer(c,
          own.map(s => BigDecimal(s.totalPrice)).sum, own.size.toLong)
      }.toMap)
    }
  }

  /** The embedded Derby warehouse: schema, and reads for the checks. */
  object Warehouse {
    def create(url: String): Unit = exec(url,
      "CREATE TABLE sales (sale_id BIGINT PRIMARY KEY, sale_date VARCHAR(19), " +
        "customer_id INT, product_id INT, quantity INT, price DOUBLE, " +
        "total_price DOUBLE, payment_method VARCHAR(16))",
      "CREATE TABLE sales_daily (sale_id BIGINT, sale_date VARCHAR(19), " +
        "customer_id INT, product_id INT, quantity INT, price DOUBLE, " +
        "total_price DOUBLE, payment_method VARCHAR(16))",
      "CREATE TABLE products (product_id INT PRIMARY KEY, " +
        "product_name VARCHAR(64), product_description VARCHAR(64), " +
        "product_category VARCHAR(32), product_price DOUBLE, stock_level INT)",
      "CREATE TABLE customers (customer_id INT PRIMARY KEY, " +
        "customer_name VARCHAR(64), customer_location VARCHAR(32), " +
        "sum_purchase DOUBLE, purchase_frequency BIGINT, " +
        "membership_level VARCHAR(16))")

    private def exec(url: String, sqls: String*): Unit = {
      val c = DriverManager.getConnection(url)
      try {
        val st = c.createStatement()
        try sqls.foreach(st.execute) finally st.close()
      } finally c.close()
    }

    def rows(url: String, sql: String): Seq[Seq[Any]] = {
      val c = DriverManager.getConnection(url)
      try {
        val rs = c.createStatement().executeQuery(sql)
        val n = rs.getMetaData.getColumnCount
        val out = mutable.ArrayBuffer[Seq[Any]]()
        while (rs.next()) out += (1 to n).map(i => rs.getObject(i) match {
          case x: java.lang.Long => x.longValue
          case x: java.lang.Integer => x.intValue
          case x: java.lang.Double => x.doubleValue
          case x => x
        })
        out.toSeq
      } finally c.close()
    }

    def count(url: String, table: String): Long =
      rows(url, s"SELECT COUNT(*) FROM $table").head.head match {
        case n: Int => n.toLong
        case n: Long => n
        case n => n.toString.toLong
      }

    /** Synced tables and their keys. */
    val Keyed = Seq("sales" -> "sale_id", "products" -> "product_id",
      "customers" -> "customer_id")

    /** Row triggers on the synced tables that report every row
      * inserted, updated or deleted to [[WarehouseWrites]]. Traced runs
      * only: they add work to every sync.
      */
    def traceWrites(url: String): Unit = exec(url,
      ("CREATE PROCEDURE log_write(tbl VARCHAR(16), op CHAR(1), k BIGINT) " +
        "LANGUAGE JAVA PARAMETER STYLE JAVA NO SQL " +
        "EXTERNAL NAME 'perfbench.WarehouseWrites.log'") +:
        Keyed.flatMap { case (t, k) =>
          Seq("INSERT" -> "NEW", "UPDATE" -> "NEW", "DELETE" -> "OLD").map {
            case (event, row) =>
              s"CREATE TRIGGER ${t}_${event.toLowerCase}_log AFTER $event ON $t " +
                s"REFERENCING $row AS r FOR EACH ROW " +
                s"CALL log_write('$t', '${event.head}', r.$k)"
          }
        }: _*)

    /** Every row of the synced tables, keyed by table and primary key. */
    def snapshot(url: String): Map[String, Map[Any, Seq[Any]]] =
      Keyed.map { case (t, _) =>
        t -> rows(url, s"SELECT * FROM $t").map(row => row.head -> row).toMap
      }.toMap

    /** Rows that differ between two snapshots: new, gone or changed. */
    def changed(before: Map[String, Map[Any, Seq[Any]]],
        after: Map[String, Map[Any, Seq[Any]]]): Long =
      after.keys.toSeq.map { t =>
        val b = before(t)
        val a = after(t)
        (b.keySet -- a.keySet).size + a.count { case (k, row) => !b.get(k).contains(row) }
      }.sum.toLong
  }
}

/** Row writes the warehouse reports through the row triggers of
  * [[Pipeline.Warehouse.traceWrites]]. Derby runs embedded, so its
  * triggers call [[log]] inside this JVM, from whichever task writes.
  */
object WarehouseWrites {
  private val entries =
    new java.util.concurrent.ConcurrentLinkedQueue[(String, String, Long)]()

  /** Body of the `log_write` procedure: one row of `table` with key
    * `key` was written, `op` I (insert), U (update) or D (delete).
    */
  def log(table: String, op: String, key: Long): Unit = entries.add((table, op, key))

  /** Rows written since the last drain, and forgets them: every insert
    * and update, and every delete of a key that was not inserted again
    * (a delete-then-insert replace writes one row).
    */
  def drain(): Long = {
    val seen = Iterator.continually(entries.poll()).takeWhile(_ != null).toSeq
    val inserted = seen.collect { case (t, "I", k) => (t, k) }.toSet
    seen.count { case (t, op, k) => op != "D" || !inserted((t, k)) }.toLong
  }
}
