package graft

import org.apache.spark.sql.functions._

import graft.plans.{TemplateCompiler, TemplateRegistry}
import graft.streaming.Monitoring

/** Control plane: template CRUD/versioning/publish (R17), trigger routing
  * (R3), sub-workflow inlining (R16), monitoring listener (R18), and the
  * opt-in deterministic-sum optimizer rule. */
class ControlPlaneSpec extends SparkSpec {
  import spark.implicits._

  private val child =
    """{"id": "band-only", "tasks": [
      |  {"id": "f", "name": "factory", "config": {"rules": [
      |     {"type": "condition_block", "branches": [
      |        {"condition": "value < 50",
      |         "set": [{"field": "band", "value": "low"}]}],
      |      "otherwise": [{"field": "band", "value": "high"}]}]}}],
      | "graph": {}}""".stripMargin

  private val parent =
    """{"id": "routed", "tasks": [
      |  {"id": "t", "name": "trigger_filter",
      |   "config": {"condition": "event_type = 'purchase'"}},
      |  {"id": "sub", "name": "trigger_workflow",
      |   "config": {"template_id": "band-only"}},
      |  {"id": "agg", "name": "aggregate",
      |   "config": {"group_by": ["band"],
      |     "aggs": [{"fn": "count", "as": "n"}]}}],
      | "graph": {"t": ["sub"], "sub": ["agg"]}}""".stripMargin

  test("registry CRUD + versioning + publish lifecycle") {
    val reg = new TemplateRegistry
    reg.put(child, version = 1)
    assert(reg.get("band-only", 1).isDefined)
    assert(reg.latestPublished("band-only").isEmpty) // still draft
    reg.publish("band-only", 1)
    assert(reg.latestPublished("band-only").contains(1))
    reg.put(child, version = 2)
    reg.publish("band-only", 2)
    assert(reg.latestPublished("band-only").contains(2))
    reg.delete("band-only", 2)
    assert(reg.latestPublished("band-only").contains(1))
  }

  test("concurrent REST writers: a publish racing a put never splices " +
      "states — the last put's json survives whole (r11 item #8)") {
    import java.net.http.{HttpClient, HttpRequest, HttpResponse}
    import java.net.URI
    val reg = new TemplateRegistry
    val srv = new graft.plans.HttpControlPlane(reg).start()
    try {
      val base = s"http://127.0.0.1:${srv.boundPort}"
      val http = HttpClient.newHttpClient()
      def put(body: String): Int = http.send(HttpRequest.newBuilder()
        .uri(URI.create(s"$base/templates/band-only/1"))
        .PUT(HttpRequest.BodyPublishers.ofString(body)).build(),
        HttpResponse.BodyHandlers.ofString()).statusCode()
      def publish(): Int = http.send(HttpRequest.newBuilder()
        .uri(URI.create(s"$base/templates/band-only/1/publish"))
        .POST(HttpRequest.BodyPublishers.noBody()).build(),
        HttpResponse.BodyHandlers.ofString()).statusCode()
      val jsonA = child
      val jsonB = child.replace("value < 50", "value < 60")
      (1 to 50).foreach { i =>
        assert(put(jsonA) == 200)
        // race: writer A publishes v1 while writer B overwrites it.
        // Whatever the interleave, the final json must be B's COMPLETE
        // write — the pre-CAS publish could resurrect jsonA with
        // draft=false, a state neither writer requested.
        val barrier = new java.util.concurrent.CyclicBarrier(2)
        var codeB = -1
        val tB = new Thread(() => {
          barrier.await(); codeB = put(jsonB)
        }, s"writer-b-$i")
        tB.start()
        barrier.await()
        val codeA = publish()
        tB.join()
        assert(codeA == 200 && codeB == 200)
        assert(reg.get("band-only", 1).contains(jsonB),
          s"iteration $i: publish spliced the old json back in")
      }
    } finally srv.stop()
  }

  test("saveTo racing a writer always produces a LOADABLE snapshot " +
      "(triggers filtered to the same template snapshot — r11 item #8)") {
    def tpl(id: String) =
      s"""{"id": "$id", "tasks": [{"id": "f", "name": "factory",
         | "config": {"rules": []}}], "graph": {}}""".stripMargin
    val reg = new TemplateRegistry
    val dir = java.nio.file.Files
      .createTempDirectory("reg_race").toString
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    // the writer cycles over a BOUNDED id space (fresh ids only for the
    // first 200) so the registry — and loadFrom's re-validation cost —
    // stays constant-size while the interleaving keeps changing
    val writer = new Thread(() => {
      var i = 0
      while (!stop.get()) {
        val k = i % 200
        // delete-then-reput keeps the torn window OPEN on every lap: a
        // save whose template snapshot lands between the delete and the
        // re-put sees the trigger rows but not their template
        reg.delete(s"tpl-$k", 1)
        reg.put(tpl(s"tpl-$k"), version = 1, draft = false)
        reg.setTrigger(s"ev-$k", s"tpl-$k", 1)
        reg.setTriggerPattern(s"app/$k/#", s"tpl-$k", 1)
        i += 1
      }
    }, "registry-writer")
    writer.start()
    try {
      (1 to 8).foreach { _ =>
        reg.saveTo(spark, dir)
        // the pre-r12 saveTo could persist a trigger whose template
        // missed the (earlier) template snapshot; loadFrom then fails
        // wholesale. Every snapshot must load.
        val loaded = TemplateRegistry.loadFrom(spark, dir)
        loaded.listTriggers.foreach { case (_, id, v) =>
          assert(loaded.get(id, v).isDefined) }
      }
    } finally { stop.set(true); writer.join() }
  }

  test("registry restart survival: saveTo/loadFrom round-trips " +
      "templates, drafts, and triggers") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_registry").toString
    val reg = new TemplateRegistry
    reg.put(child, version = 1)
    reg.publish("band-only", 1)
    reg.put(child, version = 2) // v2 stays draft
    reg.put(parent, version = 1)
    reg.publish("routed", 1)
    reg.setTrigger("purchase", "routed", 1)
    reg.saveTo(spark, dir)
    // "restart": a brand-new registry instance hydrated from the snapshot
    val reg2 = TemplateRegistry.loadFrom(spark, dir)
    assert(reg2.get("band-only", 1) == reg.get("band-only", 1))
    assert(reg2.get("band-only", 2) == reg.get("band-only", 2))
    assert(reg2.latestPublished("band-only").contains(1)) // v2 still draft
    assert(reg2.latestPublished("routed").contains(1))
    // the reloaded trigger fires the reloaded template end-to-end (the
    // sub-workflow resolve exercises cross-template state too)
    val events = Tables.table(spark, sf, "events")
    val out = reg2.fire("purchase",
      events.filter($"event_type" === "purchase"))
    assert(out.isDefined)
    val expect = reg.fire("purchase",
      events.filter($"event_type" === "purchase")).get.collect().toSeq
    assert(out.get.collect().toSeq == expect)
    // saveTo is idempotent: second snapshot reloads identically
    reg2.saveTo(spark, dir)
    val reg3 = TemplateRegistry.loadFrom(spark, dir)
    assert(reg3.get("routed", 1) == reg.get("routed", 1))
  }

  test("HTTP control plane: REST CRUD round-trip, validation as 400, " +
      "trigger wiring") {
    import java.net.http.{HttpClient, HttpRequest, HttpResponse}
    import java.net.URI
    val reg = new TemplateRegistry
    val srv = new graft.plans.HttpControlPlane(reg).start()
    try {
      val base = s"http://127.0.0.1:${srv.boundPort}"
      val http = HttpClient.newHttpClient()
      def send(r: HttpRequest): HttpResponse[String] =
        http.send(r, HttpResponse.BodyHandlers.ofString())
      def put(url: String, body: String) = send(HttpRequest.newBuilder()
        .uri(URI.create(url))
        .PUT(HttpRequest.BodyPublishers.ofString(body)).build())
      def post(url: String) = send(HttpRequest.newBuilder()
        .uri(URI.create(url))
        .POST(HttpRequest.BodyPublishers.noBody()).build())
      def get(url: String) = send(HttpRequest.newBuilder()
        .uri(URI.create(url)).GET().build())

      // upsert (draft) + publish + read-back over the wire
      assert(put(s"$base/templates/band-only/1", child).statusCode() == 200)
      assert(get(s"$base/templates/band-only/latest").statusCode() == 404)
      assert(post(s"$base/templates/band-only/1/publish").statusCode() == 200)
      assert(get(s"$base/templates/band-only/latest").body()
        .contains("\"version\":1"))
      assert(get(s"$base/templates/band-only/1").body() == child)
      // the registry behind the server is the SAME in-process object
      assert(reg.latestPublished("band-only").contains(1))
      // validation failures surface as 400, not 500
      val bad = put(s"$base/templates/bad/1",
        """{"id": "bad", "tasks": [
          |  {"id": "a", "name": "nonsense_task", "config": {}}],
          | "graph": {}}""".stripMargin)
      assert(bad.statusCode() == 400)
      // body-id/path-id mismatch is rejected and rolled back
      val mis = put(s"$base/templates/other-name/1", child)
      assert(mis.statusCode() == 400)
      assert(reg.get("band-only", 1).isDefined) // v1 untouched
      // trigger wiring over the wire routes a real frame
      assert(put(s"$base/templates/routed/1", parent).statusCode() == 200)
      assert(post(s"$base/templates/routed/1/publish").statusCode() == 200)
      assert(put(s"$base/triggers/purchase",
        """{"template_id": "routed", "version": 1}""").statusCode() == 200)
      val events = Tables.table(spark, sf, "events")
      val fired = reg.fire("purchase",
        events.filter($"event_type" === "purchase"))
      assert(fired.isDefined && fired.get.count() > 0)
      // unknown route → 404
      assert(get(s"$base/nonsense").statusCode() == 404)
    } finally srv.stop()
  }

  test("TopicMatch: MQTT 3.1.1 wildcard semantics, the Scala matcher " +
      "and the regex projection agree, bad filters rejected on write") {
    import graft.plans.TopicMatch
    val cases = Seq(
      ("app/view/u3", "app/#", true),
      ("app", "app/#", true), // '#' includes the parent level
      ("app/view/u3", "app/+/u3", true),
      ("app/view/u4", "app/+/u3", false),
      ("app/a/b/u3", "app/+/u3", false), // '+' is exactly one level
      ("app/view/u3", "app/+/+", true),
      ("app/view", "app/+/+", false),
      ("web/view/u3", "app/#", false),
      ("app/view/u3", "#", true),
      ("a.b/x", "a.b/+", true), // literal '.' stays literal in the regex
      ("axb/x", "a.b/+", false),
      ("app/view/u3", "app/view/u3", true), // exact filter, no wildcards
      ("app//u3", "app/+/u3", true)) // empty level is still a level
    cases.foreach { case (topic, pat, want) =>
      assert(TopicMatch.matches(topic, pat) == want, s"$topic ~ $pat")
      // the regex projection (what the declared query and the oracle
      // evaluate) must agree with the routing decision exactly
      assert(topic.matches(TopicMatch.toRegex(pat)) == want,
        s"regex disagrees: $topic ~ $pat (${TopicMatch.toRegex(pat)})")
    }
    intercept[IllegalArgumentException](TopicMatch.validate("app/#/x"))
    intercept[IllegalArgumentException](TopicMatch.validate("app/x#"))
    intercept[IllegalArgumentException](TopicMatch.validate("app/x+/y"))
    intercept[IllegalArgumentException](TopicMatch.validate(""))
  }

  test("wildcard trigger routing (R3): one topic fans out to every " +
      "matching subscription, in deterministic order") {
    val reg = new TemplateRegistry
    reg.put(child, version = 1); reg.publish("band-only", 1)
    reg.put(parent, version = 1); reg.publish("routed", 1)
    reg.setTriggerPattern("app/#", "band-only", 1)
    reg.setTriggerPattern("app/+/u3", "routed", 1)
    reg.setTriggerPattern("web/#", "routed", 1)
    // a filter referencing an unknown template or malformed per MQTT
    // is rejected on subscribe
    intercept[IllegalArgumentException](
      reg.setTriggerPattern("app/#", "nope", 9))
    intercept[IllegalArgumentException](
      reg.setTriggerPattern("a/#/b", "routed", 1))
    val events = Tables.table(spark, sf, "events")
      .filter($"event_type" === "purchase")
    val fired = reg.fireTopic("app/purchase/u3", events)
    assert(fired.map(_._1) ==
      Seq("app/#" -> "band-only", "app/+/u3" -> "routed"))
    fired.foreach { case (_, df) => assert(df.count() > 0) }
    assert(reg.fireTopic("mqtt/none", events).isEmpty)
    // snapshot round-trip carries the wildcard subscriptions too
    val dir = java.nio.file.Files
      .createTempDirectory("graft_registry_pat").toString
    reg.saveTo(spark, dir)
    val reg2 = TemplateRegistry.loadFrom(spark, dir)
    assert(reg2.listTriggerPatterns == reg.listTriggerPatterns)
    assert(reg2.fireTopic("app/purchase/u3", events).map(_._1) ==
      fired.map(_._1))
  }

  test("HTTP trigger CRUD: exact + wildcard subscriptions round-trip " +
      "over the wire (R17's nyuki/api trigger surface)") {
    import java.net.http.{HttpClient, HttpRequest, HttpResponse}
    import java.net.URI
    val reg = new TemplateRegistry
    reg.put(child, version = 1); reg.publish("band-only", 1)
    val srv = new graft.plans.HttpControlPlane(reg).start()
    try {
      val base = s"http://127.0.0.1:${srv.boundPort}"
      val http = HttpClient.newHttpClient()
      def send(r: HttpRequest): HttpResponse[String] =
        http.send(r, HttpResponse.BodyHandlers.ofString())
      def put(url: String, body: String) = send(HttpRequest.newBuilder()
        .uri(URI.create(url))
        .PUT(HttpRequest.BodyPublishers.ofString(body)).build())
      def get(url: String) = send(HttpRequest.newBuilder()
        .uri(URI.create(url)).GET().build())
      def delete(url: String) = send(HttpRequest.newBuilder()
        .uri(URI.create(url)).DELETE().build())
      def deleteBody(url: String, body: String) =
        send(HttpRequest.newBuilder().uri(URI.create(url))
          .method("DELETE", HttpRequest.BodyPublishers.ofString(body))
          .build())
      assert(put(s"$base/triggers/purchase",
        """{"template_id": "band-only", "version": 1}""")
        .statusCode() == 200)
      assert(put(s"$base/trigger-patterns",
        """{"pattern": "app/+/u3", "template_id": "band-only",
          | "version": 1}""".stripMargin).statusCode() == 200)
      // malformed filter → 400, not 500
      assert(put(s"$base/trigger-patterns",
        """{"pattern": "a/#/b", "template_id": "band-only",
          | "version": 1}""".stripMargin).statusCode() == 400)
      val listed = get(s"$base/triggers")
      assert(listed.statusCode() == 200)
      assert(listed.body().contains("\"event_type\":\"purchase\"")
        && listed.body().contains("\"pattern\":\"app/+/u3\""),
        s"bad listing: ${listed.body()}")
      assert(get(s"$base/triggers/purchase").body()
        .contains("\"template_id\":\"band-only\""))
      assert(get(s"$base/triggers/nope").statusCode() == 404)
      assert(delete(s"$base/triggers/purchase").statusCode() == 200)
      assert(delete(s"$base/triggers/purchase").statusCode() == 404)
      assert(deleteBody(s"$base/trigger-patterns",
        """{"pattern": "app/+/u3"}""").statusCode() == 200)
      assert(deleteBody(s"$base/trigger-patterns",
        """{"pattern": "app/+/u3"}""").statusCode() == 404)
      assert(reg.listTriggers.isEmpty && reg.listTriggerPatterns.isEmpty)
    } finally srv.stop()
  }

  test("upsert validation rejects bad templates") {
    val reg = new TemplateRegistry
    intercept[IllegalArgumentException](reg.put(
      """{"id": "bad", "tasks": [
        |  {"id": "a", "name": "nonsense_task", "config": {}}],
        | "graph": {}}""".stripMargin, 1))
    intercept[IllegalArgumentException](reg.put(
      """{"id": "cyc", "tasks": [
        |  {"id": "a", "name": "sleep", "config": {}},
        |  {"id": "b", "name": "sleep", "config": {}}],
        | "graph": {"a": ["b"], "b": ["a"]}}""".stripMargin, 1))
  }

  test("upsert rejects function-calling conditions and multi-sink graphs") {
    val reg = new TemplateRegistry
    // java_method smuggled into a condition_block branch fails at put()
    intercept[IllegalArgumentException](reg.put(
      """{"id": "evil", "tasks": [
        |  {"id": "f", "name": "factory", "config": {"rules": [
        |     {"type": "condition_block", "branches": [
        |        {"condition": "java_method('java.lang.System', 'exit')",
        |         "set": [{"field": "x", "value": "y"}]}],
        |      "otherwise": []}]}}],
        | "graph": {}}""".stripMargin, 1))
    // trigger_filter conditions get the same schema-independent gate
    intercept[IllegalArgumentException](reg.put(
      """{"id": "evil2", "tasks": [
        |  {"id": "t", "name": "trigger_filter",
        |   "config": {"condition": "rand() > 0.5"}}],
        | "graph": {}}""".stripMargin, 1))
    // two sinks fail at put(), not later inside compile() at fire() time
    intercept[IllegalArgumentException](reg.put(
      """{"id": "twosink", "tasks": [
        |  {"id": "a", "name": "sleep", "config": {}},
        |  {"id": "b", "name": "sleep", "config": {}}],
        | "graph": {}}""".stripMargin, 1))
  }

  test("sub-workflow inlines into one plan and trigger routing fires") {
    val reg = new TemplateRegistry
    reg.put(child, 1); reg.publish("band-only", 1)
    reg.put(parent, 1); reg.publish("routed", 1)
    reg.setTrigger("purchase", "routed", 1)
    val events = Tables.table(spark, sf, "events")
    val out = reg.fire("purchase", events).get
    // one scan: the sub-template fused into the same Catalyst plan
    val physical = out.queryExecution.executedPlan.toString
    assert("FileScan parquet".r.findAllIn(physical).size == 1)
    val expect = events.filter($"event_type" === "purchase")
      .withColumn("band", when($"value" < 50, "low").otherwise("high"))
      .groupBy("band").count()
    val j = out.join(expect, "band")
    assert(j.filter($"n" =!= $"count").count() == 0
      && j.count() == out.count())
    assert(reg.fire("unknown_type", events).isEmpty)
  }

  test("per-task timeout cancels a runaway action and spares a fast one") {
    import graft.plans.TaskTimeout
    // runaway: per-row sleeps make the job outlast the timeout by far
    val slowUdf = udf((x: Long) => { Thread.sleep(200); x })
    val t0 = System.nanoTime()
    intercept[TaskTimeout.TaskTimedOutException] {
      TaskTimeout.runWithTimeout(spark, s"slow_${System.nanoTime()}", 1500) {
        // aggregate over the UDF output — a bare count() would prune the
        // column away and never run the sleeps
        spark.range(0, 1000, 1, 4).select(slowUdf(col("id")).as("x"))
          .agg(sum("x")).collect()
      }
    }
    val elapsed = (System.nanoTime() - t0) / 1e9
    assert(elapsed < 30.0, s"cancellation must be prompt, took $elapsed s")
    // fast action under the same wrapper completes untouched
    val n = TaskTimeout.runWithTimeout(
      spark, s"fast_${System.nanoTime()}", 60000) {
      spark.range(100).count()
    }
    assert(n == 100)
    // the session stays healthy after a cancellation
    assert(spark.range(10).count() == 10)
  }

  test("instance manager: external cancel kills a named batch action " +
      "and HTTP DELETE stops a registered stream (R4 cancellation)") {
    import java.net.URI
    import java.net.http.{HttpClient, HttpRequest, HttpResponse}
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.plans.InstanceManager
    val mgr = new InstanceManager(spark)
    val slowUdf = udf((x: Long) => { Thread.sleep(200); x })
    val id = s"ext_${System.nanoTime()}"
    @volatile var result: scala.util.Try[Any] = null
    val runner = new Thread(() => {
      result = mgr.runBatch(id) {
        spark.range(0, 1000, 1, 4).select(slowUdf(col("id")).as("x"))
          .agg(sum("x")).collect()
      }
    }, "instance-runner")
    runner.start()
    val deadline = System.nanoTime() + 10000000000L
    while (!mgr.active.contains(id) && System.nanoTime() < deadline)
      Thread.sleep(20)
    assert(mgr.active.contains(id), "instance never registered")
    Thread.sleep(300) // let executor tasks actually start sleeping
    assert(mgr.cancel(id))
    runner.join(30000)
    assert(!runner.isAlive, "cancel must be prompt")
    assert(result.isFailure, "cancelled action must surface as Failure")
    assert(!mgr.active.contains(id))
    assert(mgr.runBatch(s"ok_$id")(spark.range(7).count())
      == scala.util.Success(7L), "manager stays usable after a cancel")

    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Long]
    val qname = s"inst_${System.nanoTime()}"
    val q = mem.toDF().writeStream.format("memory").queryName(qname)
      .outputMode("append").start()
    mgr.register("stream-1", q)
    mem.addData(1L, 2L); q.processAllAvailable()
    val srv = new graft.plans.HttpControlPlane(new TemplateRegistry,
      instances = Some(mgr)).start()
    try {
      val base = s"http://127.0.0.1:${srv.boundPort}"
      val http = HttpClient.newHttpClient()
      def send(r: HttpRequest): HttpResponse[String] =
        http.send(r, HttpResponse.BodyHandlers.ofString())
      val listed = send(HttpRequest.newBuilder()
        .uri(URI.create(s"$base/instances")).GET().build())
      assert(listed.statusCode() == 200
        && listed.body().contains("stream-1"))
      val del = send(HttpRequest.newBuilder()
        .uri(URI.create(s"$base/instances/stream-1")).DELETE().build())
      assert(del.statusCode() == 200)
      assert(!q.isActive, "DELETE must stop the streaming query")
      val missing = send(HttpRequest.newBuilder()
        .uri(URI.create(s"$base/instances/no-such")).DELETE().build())
      assert(missing.statusCode() == 404)
    } finally srv.stop()
  }

  test("instance manager: cancel in the inter-action window is " +
      "definitive, and the id is reusable afterwards") {
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    import graft.plans.InstanceManager
    val mgr = new InstanceManager(spark)
    val id = s"gap_${System.nanoTime()}"
    val firstDone = new CountDownLatch(1)
    val cancelSent = new CountDownLatch(1)
    @volatile var result: scala.util.Try[Any] = null
    @volatile var secondRan = false
    val runner = new Thread(() => {
      result = mgr.runBatch(id) {
        val a = spark.range(100).count() // action 1 completes normally
        firstDone.countDown()
        cancelSent.await(10, TimeUnit.SECONDS) // cancel lands HERE
        val b = spark.range(100).count() // must die on submission
        secondRan = true
        a + b
      }
    }, "gap-runner")
    runner.start()
    assert(firstDone.await(10, TimeUnit.SECONDS), "first action never ran")
    assert(mgr.cancel(id))
    cancelSent.countDown()
    runner.join(30000)
    assert(!runner.isAlive, "cancelled instance must terminate promptly")
    // the old best-effort cancelJobGroup would have let action 2 run to
    // completion and reported Success — the definitive contract is:
    assert(!secondRan, "post-cancel action must not execute")
    assert(result.isFailure,
      "cancel in the inter-action window must surface as Failure")
    // a REUSED id must not inherit the cancelled group's death sentence
    // (groups carry a per-run sequence number)
    assert(mgr.runBatch(id)(spark.range(9).count())
      == scala.util.Success(9L), "id reuse after cancel must work")
    // driver-only tail: cancel observed but no further Spark action —
    // the cancelled flag still converts the completed body to Failure
    val id2 = s"tail_${System.nanoTime()}"
    val started = new CountDownLatch(1)
    val canDone = new CountDownLatch(1)
    @volatile var result2: scala.util.Try[Any] = null
    val runner2 = new Thread(() => {
      result2 = mgr.runBatch(id2) {
        started.countDown()
        canDone.await(10, TimeUnit.SECONDS)
        42 // pure driver work after the cancel — no action to kill
      }
    }, "tail-runner")
    runner2.start()
    assert(started.await(10, TimeUnit.SECONDS))
    assert(mgr.cancel(id2))
    canDone.countDown()
    runner2.join(30000)
    assert(result2.isFailure,
      "a cancelled instance must never report Success, even when the " +
        "body finishes driver-side")
  }

  test("WebSocket push (R18): the JDK's own RFC 6455 client completes " +
      "the upgrade handshake, receives live reports as text frames, " +
      "survives ping, and closes cleanly") {
    import java.net.URI
    import java.net.http.{HttpClient, WebSocket}
    import java.nio.ByteBuffer
    import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.plans.WebSocketPush
    implicit val sqlCtx = spark.sqlContext
    val mon = new Monitoring().attach(spark)
    val srv = new WebSocketPush(mon).start()
    try {
      val frames = new LinkedBlockingQueue[String]
      @volatile var pongSeen = false
      val listener = new WebSocket.Listener {
        override def onText(ws: WebSocket, data: CharSequence,
            last: Boolean): java.util.concurrent.CompletionStage[_] = {
          frames.add(data.toString); ws.request(1); null
        }
        override def onPong(ws: WebSocket, msg: ByteBuffer)
            : java.util.concurrent.CompletionStage[_] = {
          pongSeen = true; ws.request(1); null
        }
      }
      val ws = HttpClient.newHttpClient().newWebSocketBuilder()
        .buildAsync(URI.create(s"ws://127.0.0.1:${srv.boundPort}/events"),
          listener)
        .join() // a failed 101 handshake rejects this future
      // a live streaming query produces reports → frames must arrive
      val mem = MemoryStream[Long]
      val q = mem.toDF().groupBy().count()
        .writeStream.format("memory")
        .queryName(s"ws_${System.nanoTime()}")
        .outputMode("complete").start()
      try {
        mem.addData(1L to 50L: _*)
        q.processAllAvailable()
        val frame = frames.poll(30, TimeUnit.SECONDS)
        assert(frame != null, "no report frame within 30s")
        assert(frame.contains("\"batchId\"")
          && frame.contains("\"numInputRows\""), s"bad frame: $frame")
        // control-frame path: ping must come back as pong
        ws.sendPing(ByteBuffer.wrap("hi".getBytes)).join()
        val deadline = System.nanoTime() + 10_000_000_000L
        while (!pongSeen && System.nanoTime() < deadline) Thread.sleep(50)
        assert(pongSeen, "ping was not answered with pong")
        ws.sendClose(WebSocket.NORMAL_CLOSURE, "done").join()
      } finally q.stop()
    } finally {
      srv.stop()
      mon.detach(spark)
    }
  }

  test("WebSocket push rejects a plain HTTP request (no upgrade key) " +
      "with 400 and keeps serving") {
    import java.io.{BufferedReader, InputStreamReader, PrintWriter}
    import java.net.Socket
    import graft.plans.WebSocketPush
    val mon = new Monitoring()
    val srv = new WebSocketPush(mon).start()
    try {
      val sock = new Socket("127.0.0.1", srv.boundPort)
      val out = new PrintWriter(sock.getOutputStream, true)
      out.print("GET /events HTTP/1.1\r\nHost: x\r\n\r\n")
      out.flush()
      val in = new BufferedReader(
        new InputStreamReader(sock.getInputStream))
      val status = in.readLine()
      assert(status != null && status.contains("400"),
        s"non-upgrade request must get 400, got: $status")
      sock.close()
      // the acceptor survived the bad request: a second (valid-shaped)
      // connection still completes the handshake
      val sock2 = new Socket("127.0.0.1", srv.boundPort)
      val out2 = new PrintWriter(sock2.getOutputStream, true)
      out2.print("GET /events HTTP/1.1\r\nHost: x\r\n" +
        "Upgrade: websocket\r\nConnection: Upgrade\r\n" +
        "Sec-WebSocket-Key: dGhlIHNhbXBsZSBub25jZQ==\r\n" +
        "Sec-WebSocket-Version: 13\r\n\r\n")
      out2.flush()
      val in2 = new BufferedReader(
        new InputStreamReader(sock2.getInputStream))
      val status2 = in2.readLine()
      assert(status2 != null && status2.contains("101"),
        s"valid upgrade must get 101, got: $status2")
      // RFC 6455 §1.3 worked example: this key must produce this accept
      var acceptLine: String = null
      var line = in2.readLine()
      while (line != null && line.nonEmpty) {
        if (line.toLowerCase.startsWith("sec-websocket-accept:"))
          acceptLine = line.split(":", 2)(1).trim
        line = in2.readLine()
      }
      assert(acceptLine == "s3pPLMBiTxaQ9kYGzzhZRbK+xOo=",
        s"handshake accept mismatch: $acceptLine")
      sock2.close()
    } finally srv.stop()
  }

  test("WebSocket push fails the connection on a PING over the RFC " +
      "6455 §5.5 125-byte control-frame cap (no oversized PONG echo)") {
    import java.io.{BufferedReader, InputStreamReader}
    import java.net.Socket
    import graft.plans.WebSocketPush
    val mon = new Monitoring()
    val srv = new WebSocketPush(mon).start()
    try {
      val sock = new Socket("127.0.0.1", srv.boundPort)
      val raw = sock.getOutputStream
      raw.write(("GET /events HTTP/1.1\r\nHost: x\r\n" +
        "Upgrade: websocket\r\nConnection: Upgrade\r\n" +
        "Sec-WebSocket-Key: dGhlIHNhbXBsZSBub25jZQ==\r\n" +
        "Sec-WebSocket-Version: 13\r\n\r\n").getBytes("UTF-8"))
      raw.flush()
      val in = new BufferedReader(
        new InputStreamReader(sock.getInputStream))
      assert(in.readLine().contains("101"))
      var line = in.readLine()
      while (line != null && line.nonEmpty) line = in.readLine()
      // masked client PING declaring a 200-byte payload (extended
      // 16-bit length): a protocol violation the server must answer by
      // closing, not by echoing a 200-byte PONG
      val n = 200
      val hdr = Array[Byte](0x89.toByte, (0x80 | 126).toByte,
        ((n >> 8) & 0xff).toByte, (n & 0xff).toByte,
        1, 2, 3, 4) // mask key
      raw.write(hdr); raw.write(new Array[Byte](n)); raw.flush()
      // server tears the connection down: the stream reaches EOF (a
      // close frame may or may not precede it) within the deadline
      sock.setSoTimeout(10000)
      val buf = new Array[Byte](256)
      var eof = false
      try {
        var r = sock.getInputStream.read(buf)
        var total = 0
        while (r != -1 && total < 4096) { total += r
          r = sock.getInputStream.read(buf) }
        eof = r == -1
      } catch { case _: java.io.IOException => eof = true }
      assert(eof, "server must close on an oversized control frame")
      sock.close()
    } finally srv.stop()
  }

  test("monitoring listener captures per-batch reports (R18)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val mon = new Monitoring().attach(spark)
    try {
      val mem = MemoryStream[Long]
      mem.addData(1L to 100L: _*)
      val q = mem.toDS().toDF("v")
        .groupBy().count()
        .writeStream.format("memory")
        .queryName(s"mon_${System.nanoTime()}")
        .outputMode("complete").start()
      q.processAllAvailable()
      // listener events arrive async on the listener bus — poll briefly
      val deadline = System.nanoTime() + 10_000_000_000L
      while (mon.reports(q.id.toString).isEmpty
          && System.nanoTime() < deadline) Thread.sleep(50)
      val reps = mon.reports(q.id.toString)
      q.stop()
      assert(reps.nonEmpty)
      assert(reps.map(_.numInputRows).sum == 100)
      assert(mon.activeQueryIds.contains(q.id.toString))
      assert(mon.failures.isEmpty)
    } finally mon.detach(spark)
  }

  test("monitoring push (R18): subscribers get live per-batch reports " +
      "and the SSE endpoint streams them over HTTP") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import java.net.http.{HttpClient, HttpRequest, HttpResponse}
    import java.net.URI
    implicit val sqlCtx = spark.sqlContext
    val mon = new Monitoring().attach(spark)
    val srv = new graft.plans.HttpControlPlane(
      new TemplateRegistry, Some(mon)).start()
    try {
      // in-process push half
      val pushed = new java.util.concurrent.ConcurrentLinkedQueue[Long]
      val unsub = mon.subscribe(r => { pushed.add(r.numInputRows); () })
      // wire push half: connect the SSE stream BEFORE the batches run
      val http = HttpClient.newHttpClient()
      val lines = new java.util.concurrent.LinkedBlockingQueue[String]
      val sseDone = http.sendAsync(
        HttpRequest.newBuilder()
          .uri(URI.create(s"http://127.0.0.1:${srv.boundPort}/events"))
          .GET().build(),
        HttpResponse.BodyHandlers.fromLineSubscriber(
          new java.util.concurrent.Flow.Subscriber[String] {
            def onSubscribe(s: java.util.concurrent.Flow.Subscription)
                : Unit = s.request(Long.MaxValue)
            def onNext(item: String): Unit = { lines.add(item); () }
            def onError(t: Throwable): Unit = ()
            def onComplete(): Unit = ()
          }))
      // wait for the stream-open comment frame so no report races past
      val hello = lines.poll(10, java.util.concurrent.TimeUnit.SECONDS)
      assert(hello != null && hello.startsWith(":"), s"no SSE hello: $hello")
      val mem = MemoryStream[Long]
      mem.addData(1L to 42L: _*)
      val q = mem.toDS().toDF("v").groupBy().count()
        .writeStream.format("memory")
        .queryName(s"sse_${System.nanoTime()}")
        .outputMode("complete").start()
      q.processAllAvailable()
      val deadline = System.nanoTime() + 10_000_000_000L
      while (pushed.isEmpty && System.nanoTime() < deadline)
        Thread.sleep(50)
      q.stop()
      unsub()
      assert(!pushed.isEmpty, "in-process subscriber got no push")
      assert(pushed.contains(42L))
      // the same report must arrive on the HTTP event stream
      var dataLine: String = null
      val dl2 = System.nanoTime() + 10_000_000_000L
      while (dataLine == null && System.nanoTime() < dl2) {
        val l = lines.poll(200, java.util.concurrent.TimeUnit.MILLISECONDS)
        if (l != null && l.startsWith("data:")) dataLine = l
      }
      assert(dataLine != null, "no data frame on the SSE stream")
      assert(dataLine.contains("\"numInputRows\":42"))
      // pull half over the wire agrees with the in-process accessor
      val rep = http.send(HttpRequest.newBuilder()
        .uri(URI.create(
          s"http://127.0.0.1:${srv.boundPort}/reports/${q.id}"))
        .GET().build(), HttpResponse.BodyHandlers.ofString())
      assert(rep.body().contains("\"numInputRows\":42"))
      sseDone.cancel(true)
    } finally { srv.stop(); mon.detach(spark) }
  }

  test("one monitoring report is the same bytes on every channel: the " +
      "SSE data frame, the WebSocket text frame and GET /reports/{id}") {
    import java.net.URI
    import java.net.http.{HttpClient, HttpRequest, HttpResponse, WebSocket}
    import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val mon = new Monitoring().attach(spark)
    val plane = new graft.plans.HttpControlPlane(
      new TemplateRegistry, Some(mon)).start()
    val push = new graft.plans.WebSocketPush(mon).start()
    try {
      val http = HttpClient.newHttpClient()
      val sse = new LinkedBlockingQueue[String]
      val sseDone = http.sendAsync(
        HttpRequest.newBuilder()
          .uri(URI.create(s"http://127.0.0.1:${plane.boundPort}/events"))
          .GET().build(),
        HttpResponse.BodyHandlers.fromLineSubscriber(
          new java.util.concurrent.Flow.Subscriber[String] {
            def onSubscribe(s: java.util.concurrent.Flow.Subscription)
                : Unit = s.request(Long.MaxValue)
            def onNext(item: String): Unit = { sse.add(item); () }
            def onError(t: Throwable): Unit = ()
            def onComplete(): Unit = ()
          }))
      val hello = sse.poll(10, TimeUnit.SECONDS)
      assert(hello != null && hello.startsWith(":"), s"no SSE hello: $hello")
      val ws = new LinkedBlockingQueue[String]
      val socket = http.newWebSocketBuilder()
        .buildAsync(URI.create(s"ws://127.0.0.1:${push.boundPort}/events"),
          new WebSocket.Listener {
            override def onText(w: WebSocket, data: CharSequence,
                last: Boolean): java.util.concurrent.CompletionStage[_] = {
              ws.add(data.toString); w.request(1); null
            }
          })
        .join()
      val mem = MemoryStream[Long]
      mem.addData(1L to 7L: _*)
      val q = mem.toDF().groupBy().count()
        .writeStream.format("memory")
        .queryName(s"bytes_${System.nanoTime()}")
        .outputMode("complete").start()
      try q.processAllAvailable() finally q.stop()
      // the first report of this query on each push channel
      val ofQuery = s"\"queryId\":\"${q.id}\""
      def firstOf(frames: LinkedBlockingQueue[String],
          strip: String): String = {
        val deadline = System.nanoTime() + 30_000_000_000L
        var got: String = null
        while (got == null && System.nanoTime() < deadline) {
          val f = frames.poll(200, TimeUnit.MILLISECONDS)
          if (f != null && f.startsWith(strip) && f.contains(ofQuery))
            got = f.stripPrefix(strip)
        }
        assert(got != null, s"no report frame within 30s ($strip)")
        got
      }
      val viaSse = firstOf(sse, "data: ")
      val viaWs = firstOf(ws, "")
      val pulled = http.send(HttpRequest.newBuilder()
        .uri(URI.create(
          s"http://127.0.0.1:${plane.boundPort}/reports/${q.id}"))
        .GET().build(), HttpResponse.BodyHandlers.ofString()).body()
      val first = mon.reports(q.id.toString).head
      assert(viaSse == first.json)
      assert(viaWs == viaSse)
      assert(pulled.startsWith("[" + viaSse) &&
        ",]".contains(pulled.charAt(viaSse.length + 1)), pulled)
      assert(viaSse.contains("\"numInputRows\":7"), viaSse)
      socket.sendClose(WebSocket.NORMAL_CLOSURE, "done").join()
      sseDone.cancel(true)
    } finally {
      push.stop(); plane.stop(); mon.detach(spark)
    }
  }
}
