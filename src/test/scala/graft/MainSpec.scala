package graft

import org.scalatest.funsuite.AnyFunSuite

class MainSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("flag parsing follows the --parent-child convention") {
    val cfg = Main.parseArgs(Array(
      "--tally-fromdate", "20191001", "--tally-todate", "20191231",
      "--tally-company", "Reliance Industries",
      "--database-schema", "client_reliance",
      "--tally-master", "false"))
    assert(cfg.fromDate == "20191001" && cfg.toDate == "20191231")
    assert(cfg.company.contains("Reliance Industries"))
    assert(cfg.schema == "client_reliance")
    assert(!cfg.syncMaster && cfg.syncTransaction)
  }

  test("replay-mode full sync: YAML spec → TSV replay → parquet warehouse") {
    val dir = java.nio.file.Files.createTempDirectory("graft-cli").toString
    val yaml =
      """master:
        |  - name: mst_ledger
        |    collection: Ledger
        |    nature: Primary
        |    fields:
        |      - name: guid
        |        field: Guid
        |        type: text
        |      - name: name
        |        field: Name
        |        type: text
        |      - name: opening_balance
        |        field: OpeningBalance
        |        type: amount
        |""".stripMargin
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/spec.yaml"), yaml)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/mst_ledger.data"),
      "guid\tname\topening_balance\r\n" +
        "g1\tCash\t-100.50\r\n" +
        "g2\tSales\t(-)20.00\r\n")
    Main.run(spark, Main.Config(
      technology = "parquet", schema = s"$dir/wh",
      definition = s"$dir/spec.yaml", replayDir = Some(dir)))
    val out = spark.read.parquet(s"$dir/wh/mst_ledger")
    val rows = out.collect().map(r =>
      r.getString(1) -> r.getDecimal(2).doubleValue()).toMap
    assert(rows == Map("Cash" -> -100.5, "Sales" -> -20.0))
  }

  test("multi-company CSV syncs each company into its own schema") {
    val dir = java.nio.file.Files.createTempDirectory("graft-mc").toString
    val yaml =
      """master:
        |  - name: mst_ledger
        |    collection: Ledger
        |    nature: Primary
        |    fields:
        |      - name: guid
        |        field: Guid
        |        type: text
        |""".stripMargin
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/spec.yaml"), yaml)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/mst_ledger.data"), "guid\r\ng1\r\n")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/config.csv"),
      s"schema,company\n$dir/wh_a,Acme Corp\n$dir/wh_b,Beta Traders\n")
    Main.run(spark, Main.Config(
      technology = "parquet",
      definition = s"$dir/spec.yaml", replayDir = Some(dir),
      companiesCsv = Some(s"$dir/config.csv")))
    assert(spark.read.parquet(s"$dir/wh_a/mst_ledger").count() == 1)
    assert(spark.read.parquet(s"$dir/wh_b/mst_ledger").count() == 1)
  }

  test("tally-truncate false appends instead of clearing (scenario 04)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-app").toString
    val yaml =
      """master:
        |  - name: mst_ledger
        |    collection: Ledger
        |    nature: Primary
        |    fields:
        |      - name: guid
        |        field: Guid
        |        type: text
        |""".stripMargin
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/spec.yaml"), yaml)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/mst_ledger.data"), "guid\r\ny1\r\n")
    val base = Main.Config(technology = "parquet", schema = s"$dir/wh",
      definition = s"$dir/spec.yaml", replayDir = Some(dir))
    Main.run(spark, base) // year 1: normal truncate-sync
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/mst_ledger.data"), "guid\r\ny2\r\n")
    Main.run(spark, base.copy(truncate = false)) // year 2: append
    val got = spark.read.parquet(s"$dir/wh/mst_ledger")
      .collect().map(_.getString(0)).toSet
    assert(got == Set("y1", "y2"))
    Main.run(spark, base) // truncate again: back to one year
    assert(spark.read.parquet(s"$dir/wh/mst_ledger").count() == 1)
  }

  /** A definition of one text column per table, one table per
    * `name -> Tally collection`, written to `dir/spec.yaml`. */
  private def guidSpec(dir: String, tables: (String, String)*): String = {
    val yaml = tables.map { case (name, collection) =>
      s"""  - name: $name
         |    collection: $collection
         |    nature: Primary
         |    fields:
         |      - name: guid
         |        field: Guid
         |        type: text
         |""".stripMargin
    }.mkString("master:\n", "", "")
    val path = s"$dir/spec.yaml"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), yaml)
    path
  }

  private val fourTables = Seq("mst_ledger" -> "Ledger",
    "mst_group" -> "Group", "mst_vouchertype" -> "VoucherType",
    "mst_unit" -> "Unit")

  private def fourTableFake(): FakeTally = {
    val fake = new FakeTally
    fake.tables = fourTables.map { case (name, collection) =>
      collection -> (1 to 3).map(i => Map("Guid" -> s"$name-$i"))
    }.toMap
    fake
  }

  private def syncThreads(): Set[Thread] = {
    import scala.jdk.CollectionConverters._
    Thread.getAllStackTraces.keySet.asScala.toSet
      .filter(t => t.getName.startsWith("graft-sync-") && t.isAlive)
  }

  test("full sync loads tables on worker threads, one Tally request in flight") {
    val dir = java.nio.file.Files.createTempDirectory("graft-pool").toString
    val fake = fourTableFake()
    val inFlight = new java.util.concurrent.atomic.AtomicInteger
    val peak = new java.util.concurrent.atomic.AtomicInteger
    val callers = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val counted: String => String = { request =>
      peak.accumulateAndGet(inFlight.incrementAndGet(), math.max)
      callers.add(Thread.currentThread.getName)
      try { Thread.sleep(20); fake.transport(request) }
      finally inFlight.decrementAndGet()
    }
    Main.run(spark, Main.Config(technology = "parquet",
      schema = s"$dir/wh", definition = guidSpec(dir, fourTables: _*),
      syncMode = "full"), transportOverride = Some(counted))
    assert(peak.get == 1)
    assert(fake.requests.size == 4)
    assert(callers.stream().allMatch(_.startsWith("graft-sync-")))
    assert(callers.size >= math.min(2, Runtime.getRuntime.availableProcessors),
      s"requests came from $callers")
    fourTables.foreach { case (name, _) =>
      val got = spark.read.parquet(s"$dir/wh/$name")
        .collect().map(_.getString(0)).toSet
      assert(got == (1 to 3).map(i => s"$name-$i").toSet, name)
    }
  }

  test("a table that fails fails the sync with its own error, workers ended") {
    val dir = java.nio.file.Files.createTempDirectory("graft-fail").toString
    val fake = fourTableFake()
    val calls = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val failing: String => String = { request =>
      val called = fourTables.map(_._2)
        .find(c => request.contains(s"<TYPE>$c</TYPE>")).get
      calls.add(called)
      Thread.sleep(20)
      if (called == "Group")
        throw new IllegalStateException("Tally refused the Group export")
      fake.transport(request)
    }
    // Group first, so its worker is the likeliest to hold the lock while
    // the others queue on it. With one core the pool has one worker and
    // the queued tables never start, so the order alone proves nothing
    val tables = fourTables.sortBy(_._2 != "Group")
    val e = intercept[Exception](Main.run(spark, Main.Config(
      technology = "parquet", schema = s"$dir/wh",
      definition = guidSpec(dir, tables: _*), syncMode = "full"),
      transportOverride = Some(failing)))
    assert(e.getClass == classOf[IllegalStateException])
    assert(e.getMessage == "Tally refused the Group export")
    // workers already waiting on the request lock send nothing more
    assert(calls.toArray.last == "Group", s"calls in order: $calls")
    assert(syncThreads().isEmpty, s"still alive: ${syncThreads()}")
  }

  test("each table's Spark jobs carry the description `sync <table>`") {
    val dir = java.nio.file.Files.createTempDirectory("graft-desc").toString
    val tables = Seq("mst_desc_a" -> "Ledger", "mst_desc_b" -> "Group")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/mst_desc_a.data"), "guid\r\na1\r\n")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/mst_desc_b.data"), "guid\r\nb1\r\n")
    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          s: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(s.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .foreach(seen.add)
    }
    val want = tables.map { case (name, _) => s"sync $name" }.toSet
    spark.sparkContext.addSparkListener(listener)
    try {
      Main.run(spark, Main.Config(technology = "parquet",
        schema = s"$dir/wh", definition = guidSpec(dir, tables: _*),
        replayDir = Some(dir)))
      // the listener bus delivers job events asynchronously
      val deadline = System.nanoTime() + 10_000_000_000L
      while (!want.forall(seen.contains) && System.nanoTime() < deadline)
        Thread.sleep(20)
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(want.forall(seen.contains), s"job descriptions seen: $seen")
  }

  test("post-import flag runs a script against the fresh warehouse") {
    val dir = java.nio.file.Files.createTempDirectory("graft-post").toString
    val yaml =
      """master:
        |  - name: mst_ledger
        |    collection: Ledger
        |    nature: Primary
        |    fields:
        |      - name: guid
        |        field: Guid
        |        type: text
        |      - name: name
        |        field: Name
        |        type: text
        |""".stripMargin
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/spec.yaml"), yaml)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/mst_ledger.data"),
      "guid\tname\r\ng1\tCash\r\n")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/post.sql"),
      "insert into mst_ledger(guid, name) values ('g9', 'Synthetic');")
    Main.run(spark, Main.Config(
      technology = "parquet", schema = s"$dir/wh",
      definition = s"$dir/spec.yaml", replayDir = Some(dir),
      postImport = Some(s"$dir/post.sql")))
    val names = spark.read.parquet(s"$dir/wh/mst_ledger")
      .collect().map(_.getAs[String]("name")).toSet
    assert(names == Set("Cash", "Synthetic"))
  }

  test("server mode: /sync drives a replay sync with overlaid config") {
    val dir = java.nio.file.Files.createTempDirectory("graft-srv").toString
    val yaml =
      """master:
        |  - name: mst_ledger
        |    collection: Ledger
        |    nature: Primary
        |    fields:
        |      - name: guid
        |        field: Guid
        |        type: text
        |""".stripMargin
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/spec.yaml"), yaml)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/mst_ledger.data"),
      "guid\r\ng1\r\ng2\r\n")
    val srv = Main.startServer(spark, Main.Config(
      definition = s"$dir/spec.yaml", replayDir = Some(dir),
      configFile = s"$dir/config.json", serverPort = Some(0)),
      transportOverride = Some(identity))
    try {
      val client = java.net.http.HttpClient.newHttpClient()
      def post(path: String, body: String) = client.send(
        java.net.http.HttpRequest.newBuilder()
          .uri(java.net.URI.create(
            s"http://localhost:${srv.boundPort}$path"))
          .POST(java.net.http.HttpRequest.BodyPublishers.ofString(body))
          .build(),
        java.net.http.HttpResponse.BodyHandlers.ofString()).body()
      assert(post("/sync", s"""{"schema":"$dir/wh"}""") == "Sync started")
      // poll the log endpoint until the in-server sync completes
      val deadline = System.nanoTime() + 60_000_000_000L
      while (!post("/log", "").contains("sync finished") &&
          System.nanoTime() < deadline) Thread.sleep(50)
      assert(post("/log", "").contains("sync finished"))
      assert(spark.read.parquet(s"$dir/wh/mst_ledger").count() == 2)
    } finally srv.stop()
  }
}
