package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import graft.api.StatusServer
import graft.core.EngineContext
import graft.exec.{JobRunner, StatusRegistry, TaskRegistry}
import graft.model.EtlModel

/** HTTP facade tests mirroring tests/test_api.py:10-49: node_info fields,
  * submit response shape, 400/412 rejections, task status lookup.
  */
class StatusServerSpec extends SparkSpec {

  private class Quick extends EtlModel {
    override def name = "QuickEtl"
    override def build(ctx: EngineContext) = ctx.spark.range(3).toDF()
    override def methods = super.methods +
      ("wide" -> { (ctx, _) => ctx.spark.range(7).toDF() })
  }

  private def get(port: Int, path: String): (Int, String) = {
    val client = HttpClient.newHttpClient()
    val r = client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path")).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), r.body())
  }

  private def post(port: Int, path: String, body: String): (Int, String) = {
    val client = HttpClient.newHttpClient()
    val r = client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
        .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), r.body())
  }

  test("node_info + submit + task status shapes (A1/A18)") {
    val reg = new TaskRegistry
    val status = new StatusRegistry
    val runner = new JobRunner(spark, reg, status, maxConcurrentTasks = 2)
    reg.register(new Quick)
    val server = new StatusServer(runner, reg, status, maxConcurrentTasks = 2)
    val port = server.start()
    try {
      val (c0, b0) = get(port, "/api/0.01/node_info")
      assert(c0 == 200)
      assert(b0.contains("\"node_ident\"") && b0.contains("\"max_concurrent_tasks\":2")
        && b0.contains("\"available_processing_capacity\""))

      // API index hello (views/api.py:17-20)
      val (ci, bi) = get(port, "/api/0.01/")
      assert(ci == 200 && bi.contains("\"hello\":\"world\""))

      val (c1, b1) = post(port, "/api/0.01/task", """{"model_class":"QuickEtl"}""")
      assert(c1 == 200 && b1.contains("\"task_id\"") && b1.contains("\"status_url\""))
      // reference submit shape: external task link + accepting node ident
      assert(b1.contains("\"_metadata\"") && b1.contains("\"links\"")
        && b1.contains("/api/0.01/task/") && b1.contains("\"governor_accepted_ident\""))
      val id = "\"task_id\":\"([a-f0-9]+)\"".r.findFirstMatchIn(b1).get.group(1)

      // poll to terminal state
      var st = ""
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (st != "complete" && System.nanoTime() < deadline) {
        Thread.sleep(100)
        st = "\"status\":\"(\\w+)\"".r
          .findFirstMatchIn(get(port, s"/api/0.01/task/$id")._2).get.group(1)
      }
      assert(st == "complete")

      val (c2, b2) = post(port, "/api/0.01/task", """{"no_class":1}""")
      assert(c2 == 400 && b2.contains("model_class"))
      val (c3, _) = post(port, "/api/0.01/task", """{"model_class":"Unknown"}""")
      assert(c3 == 412)
      // unknown task → 404 (views/api.py:80-81)
      val (c4, b4) = get(port, "/api/0.01/task/zzzzz")
      assert(c4 == 404 && b4.contains("task unknown"))

      // non-"go" method dispatch over HTTP; unknown method → 412
      val (c5, b5) = post(port, "/api/0.01/task",
        """{"model_class":"QuickEtl","method":"wide"}""")
      assert(c5 == 200, b5)
      val id5 = "\"task_id\":\"([a-f0-9]+)\"".r.findFirstMatchIn(b5).get.group(1)
      var st5 = ""
      while (st5 != "complete" && System.nanoTime() < deadline) {
        Thread.sleep(100)
        st5 = "\"status\":\"(\\w+)\"".r
          .findFirstMatchIn(get(port, s"/api/0.01/task/$id5")._2).get.group(1)
      }
      assert(st5 == "complete")
      assert(get(port, s"/api/0.01/task/$id5")._2.contains("\"method\":\"wide\""))
      val (c6, b6) = post(port, "/api/0.01/task",
        """{"model_class":"QuickEtl","method":"nope"}""")
      assert(c6 == 412 && b6.contains("no method"), b6)

      // HTML views (views/web.py analogue): node summary + per-task page
      val (h0, hb0) = get(port, "/")
      assert(h0 == 200 && hb0.startsWith("<!DOCTYPE html>"), hb0.take(100))
      assert(hb0.contains("Node info") && hb0.contains("Recently Completed Tasks"))
      assert(hb0.contains(s"""<a href="/task/$id""""), "completed task not linked")
      val (h1, hb1) = get(port, s"/task/$id")
      assert(h1 == 200 && hb1.contains("Task Details")
        && hb1.contains(id) && hb1.contains("QuickEtl") && hb1.contains("complete"))
      assert(get(port, "/task/zzzzz")._1 == 404)
    } finally server.stop()
  }

  test("POST forwards method_kwargs, resolver_context and construction kwargs into dispatch (views/api.py:41-50)") {
    val reg = new TaskRegistry
    val status = new StatusRegistry
    val runner = new JobRunner(spark, reg, status, maxConcurrentTasks = 2)
    // rows = base (construction kwarg) + n (method kwarg) × mult (resolver
    // context) — only the POST body can make the task produce 22 rows
    reg.registerFactory("KwargEtl", ctor => new EtlModel {
      override def name = "KwargEtl"
      private val base = ctor.getOrElse("base", "0").toLong
      override def build(ctx: EngineContext) = ctx.spark.range(base).toDF()
      override def methods = Map(
        "go" -> ((ctx, _) => build(ctx)),
        "sized" -> ((ctx, kw) => ctx.spark.range(
          base + kw("n").toLong * ctx.resolve("{mult}").toLong).toDF()))
    })
    val server = new StatusServer(runner, reg, status)
    val port = server.start()
    try {
      val (c, b) = post(port, "/api/0.01/task",
        """{"model_class":"KwargEtl","method":"sized",
          |"method_kwargs":{"n":"5"},"resolver_context":{"mult":"4"},
          |"model_construction_kwargs":{"base":"2"}}""".stripMargin)
      assert(c == 200, b)
      val id = "\"task_id\":\"([a-f0-9]+)\"".r.findFirstMatchIn(b).get.group(1)
      var st = ""
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (st != "complete" && st != "failed" && System.nanoTime() < deadline) {
        Thread.sleep(100)
        st = "\"status\":\"(\\w+)\"".r
          .findFirstMatchIn(get(port, s"/api/0.01/task/$id")._2).get.group(1)
      }
      assert(st == "complete")
      // 2 + 5×4 = 22 rows, reported on the task detail page
      val page = get(port, s"/task/$id")._2
      assert(page.contains("<td>22</td>"), s"kwargs did not reach dispatch:\n$page")
      // malformed body → 400, not a silent default submit
      assert(post(port, "/api/0.01/task", "{not json")._1 == 400)
      // structurally invalid kwargs → 400, never a silently-emptied value
      // (Jackson asText renders containers as "")
      val (cNested, bNested) = post(port, "/api/0.01/task",
        """{"model_class":"KwargEtl","method_kwargs":{"n":{"nested":1}}}""")
      assert(cNested == 400 && bNested.contains("must be a scalar"), bNested)
      val (cArr, _) = post(port, "/api/0.01/task",
        """{"model_class":"KwargEtl","resolver_context":{"mult":[4]}}""")
      assert(cArr == 400)
      val (cNotObj, bNotObj) = post(port, "/api/0.01/task",
        """{"model_class":"KwargEtl","method_kwargs":"n=5"}""")
      assert(cNotObj == 400 && bNotObj.contains("must be a JSON object"), bNotObj)
    } finally { server.stop(); runner.close() }
  }

  test("the full corpus lifecycle (q141's model) runs over the HTTP facade " +
      "(the reference's submit-ETL-and-poll integration shape, test_basics.py:86-104)") {
    val reg = new TaskRegistry
    val status = new StatusRegistry
    val runner = new JobRunner(spark, reg, status, maxConcurrentTasks = 2)
    reg.register(new graft.queries.LifecycleOps.CorpusLifecycleModel)
    val server = new StatusServer(runner, reg, status)
    val port = server.start()
    val outBase = java.nio.file.Files
      .createTempDirectory("graft_http_lifecycle").toString
    try {
      val (c, b) = post(port, "/api/0.01/task",
        s"""{"model_class":"CorpusLifecycle",
           |"resolver_context":{"data_dir":"$sfDir","output":"$outBase"}}"""
          .stripMargin)
      assert(c == 200, b)
      val id = "\"task_id\":\"([a-f0-9]+)\"".r.findFirstMatchIn(b).get.group(1)
      var st = ""
      val deadline = System.nanoTime() + 120L * 1000000000L
      while (st != "complete" && st != "failed" && System.nanoTime() < deadline) {
        Thread.sleep(200)
        st = "\"status\":\"(\\w+)\"".r
          .findFirstMatchIn(get(port, s"/api/0.01/task/$id")._2).get.group(1)
      }
      assert(st == "complete", s"lifecycle over HTTP ended '$st'")
      // the pipeline's physical outputs exist where the POST body said
      val manifest = spark.read.parquet(s"$outBase/manifest")
      assert(manifest.count() > 0, "no shard manifest written")
      assert(new java.io.File(s"$outBase/shards").exists(), "no shard export")
      assert(new java.io.File(s"$outBase/dedup/CURRENT").exists(),
        "no committed dedup version")
    } finally { server.stop(); runner.close() }
  }

  test("GraftApp wires config: cpu_task_ratio capacity, models, loggers, sidecar, HTTP") {
    import java.nio.file.{Files, Paths}
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val spool = Paths.get(sys.props("java.io.tmpdir"), s"graft_app_spool_${System.nanoTime()}")
    val cfg = graft.api.EngineConfig(
      appTitle = "test-node",
      acceptedModels = Seq(new Quick),
      taskSources = Seq(new graft.exec.DirectoryTaskSource(spool, pollMillis = 50)),
      externalLoggers = Map("cap" -> ((l: String, m: String) => seen.add(s"$l:$m"): Unit)),
      logToStdout = false,
      cpuTaskRatio = Some(0.5))
    // capacity = ceil(ratio × cores); explicit override wins
    assert(cfg.resolvedCapacity(8) == 4)
    assert(cfg.copy(maxConcurrentTasks = Some(3)).resolvedCapacity(8) == 3)
    assert(cfg.copy(cpuTaskRatio = None).resolvedCapacity(8) == 8)
    val app = new graft.api.GraftApp(spark, cfg)
    val port = app.start()
    try {
      val (c, b) = get(port, "/api/0.01/node_info")
      assert(c == 200 && b.contains("\"node_ident\":\"test-node\""))
      // sidecar drop runs through the whole assembled node
      Files.write(spool.resolve("j.task"), "QuickEtl".getBytes)
      val result = spool.resolve("j.result.json")
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!Files.exists(result) && System.nanoTime() < deadline) Thread.sleep(50)
      assert(new String(Files.readAllBytes(result)).contains("\"status\":\"complete\""))
      assert(!seen.isEmpty, "external logger saw no engine events")
    } finally {
      app.stop()
      graft.tools.EngineLog.echoToConsole = true
    }
  }

  test("TLS: a PKCS12 keystore turns the facade into an HTTPS server") {
    // self-signed keystore generated with the JDK's own keytool — the
    // deployment shape (GRAFT_TLS_KEYSTORE/_PASS) with throwaway key
    // material scoped to this test
    val dir = java.nio.file.Files.createTempDirectory("graft_tls")
    val ksPath = dir.resolve("server.p12").toString
    val keytool = java.nio.file.Paths.get(
      sys.props("java.home"), "bin", "keytool").toString
    val cmd = Seq(keytool, "-genkeypair", "-alias", "graft", "-keyalg", "RSA",
      "-keysize", "2048", "-validity", "1", "-storetype", "PKCS12",
      "-keystore", ksPath, "-storepass", "changeit",
      "-dname", "CN=127.0.0.1", "-ext", "SAN=IP:127.0.0.1")
    val proc = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
    val out = new String(proc.getInputStream.readAllBytes())
    assert(proc.waitFor() == 0, s"keytool failed: $out")

    val reg = new TaskRegistry
    val status = new StatusRegistry
    val runner = new JobRunner(spark, reg, status, maxConcurrentTasks = 2)
    reg.register(new Quick)
    val server = new StatusServer(runner, reg, status,
      tlsKeystore = Some(ksPath), tlsKeystorePass = Some("changeit"))
    val port = server.start()
    try {
      // trust-all client context (the cert is self-signed)
      val trustAll = javax.net.ssl.SSLContext.getInstance("TLS")
      trustAll.init(null, Array[javax.net.ssl.TrustManager](
        new javax.net.ssl.X509TrustManager {
          override def checkClientTrusted(c: Array[java.security.cert.X509Certificate], a: String): Unit = ()
          override def checkServerTrusted(c: Array[java.security.cert.X509Certificate], a: String): Unit = ()
          override def getAcceptedIssuers: Array[java.security.cert.X509Certificate] = Array.empty
        }), new java.security.SecureRandom())
      val client = HttpClient.newBuilder().sslContext(trustAll).build()
      val r = client.send(
        HttpRequest.newBuilder(URI.create(s"https://127.0.0.1:$port/api/0.01/")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(r.statusCode() == 200 && r.body().contains("\"hello\":\"world\""))
      // submit over TLS returns an https task link
      val pr = client.send(
        HttpRequest.newBuilder(URI.create(s"https://127.0.0.1:$port/api/0.01/task"))
          .POST(HttpRequest.BodyPublishers.ofString("""{"model_class":"QuickEtl"}"""))
          .build(), HttpResponse.BodyHandlers.ofString())
      assert(pr.statusCode() == 200 && pr.body().contains("\"https://127.0.0.1:"),
        s"task link should be https: ${pr.body()}")
      // plaintext against the TLS port must NOT succeed
      val plain = try {
        val (c, _) = get(port, "/api/0.01/")
        c == 200
      } catch { case _: Exception => false }
      assert(!plain, "plaintext HTTP succeeded against the TLS port")
    } finally { server.stop(); runner.close() }
  }

  test("bearer-token auth gates every route when configured (hardened facade)") {
    val reg = new TaskRegistry
    val status = new StatusRegistry
    val runner = new JobRunner(spark, reg, status, maxConcurrentTasks = 2)
    reg.register(new Quick)
    val server = new StatusServer(runner, reg, status,
      authToken = Some("s3cret"))
    val port = server.start()
    def getAuth(path: String, token: Option[String]): (Int, String) = {
      val b = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path")).GET()
      token.foreach(t => b.header("Authorization", s"Bearer $t"))
      val r = HttpClient.newHttpClient()
        .send(b.build(), HttpResponse.BodyHandlers.ofString())
      (r.statusCode(), r.body())
    }
    try {
      for (path <- Seq("/api/0.01/node_info", "/api/0.01/", "/", "/api/0.01/task/x")) {
        assert(getAuth(path, None)._1 == 401, s"$path open without token")
        assert(getAuth(path, Some("wrong"))._1 == 401, s"$path accepted a bad token")
      }
      // POSTs are gated too
      val noTok = HttpClient.newHttpClient().send(
        HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/api/0.01/task"))
          .POST(HttpRequest.BodyPublishers.ofString("""{"model_class":"QuickEtl"}"""))
          .build(), HttpResponse.BodyHandlers.ofString())
      assert(noTok.statusCode() == 401)
      // the right token restores the normal API behavior
      val (cOk, bOk) = getAuth("/api/0.01/node_info", Some("s3cret"))
      assert(cOk == 200 && bOk.contains("\"node_ident\""))
      val okPost = HttpClient.newHttpClient().send(
        HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/api/0.01/task"))
          .header("Authorization", "Bearer s3cret")
          .POST(HttpRequest.BodyPublishers.ofString("""{"model_class":"QuickEtl"}"""))
          .build(), HttpResponse.BodyHandlers.ofString())
      assert(okPost.statusCode() == 200 && okPost.body().contains("\"task_id\""))
    } finally server.stop()
  }

  test("a POST waiting for capacity does not stall a concurrent GET") {
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    val reg = new TaskRegistry
    val status = new StatusRegistry
    val runner = new JobRunner(spark, reg, status, maxConcurrentTasks = 1)
    // admission constructs the model once per submission, just before it
    // waits for capacity: the second construction marks the second POST
    // as waiting inside the handler
    val admitted = new CountDownLatch(2)
    val release = new CountDownLatch(1)
    reg.registerFactory("HoldEtl", _ => {
      admitted.countDown()
      new EtlModel {
        override def name = "HoldEtl"
        override def build(ctx: EngineContext) = {
          release.await(60, TimeUnit.SECONDS): Unit
          ctx.spark.range(1).toDF()
        }
      }
    })
    val server = new StatusServer(runner, reg, status, maxConcurrentTasks = 1)
    val port = server.start()
    try {
      val (c1, b1) = post(port, "/api/0.01/task", """{"model_class":"HoldEtl"}""")
      assert(c1 == 200, b1)
      val id = "\"task_id\":\"([a-f0-9]+)\"".r.findFirstMatchIn(b1).get.group(1)
      val waiting = scala.concurrent.Future(
        post(port, "/api/0.01/task", """{"model_class":"HoldEtl"}"""))(
        scala.concurrent.ExecutionContext.global)
      assert(admitted.await(30, TimeUnit.SECONDS), "second POST never reached admission")
      val t0 = System.nanoTime()
      val (c, b) = get(port, s"/api/0.01/task/$id")
      val seconds = (System.nanoTime() - t0) / 1e9
      assert(c == 200 && b.contains("\"status\":\"running\""), b)
      assert(seconds < 0.5, f"GET took $seconds%.3f s behind a POST waiting for capacity")
      assert(scala.concurrent.Await.result(waiting,
        scala.concurrent.duration.Duration(30, "s"))._1 == 503)
    } finally { release.countDown(); server.stop(); runner.close() }
  }
}
