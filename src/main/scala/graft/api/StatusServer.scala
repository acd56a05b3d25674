package graft.api

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import com.sun.net.httpserver.{HttpExchange, HttpServer, HttpsConfigurator, HttpsServer}
import graft.exec.{JobRunner, StatusRegistry, TaskRegistry}
import graft.exec.Tasks._

/** Minimal HTTP(S) status/submission facade reproducing the reference's
  * JSON shapes (views/api.py:28-103, views/controller.py:5-80):
  *
  *   POST /api/0.01/task       → {task_id, status_url} | 400/412/503
  *   GET  /api/0.01/task/<id>  → task summary
  *   GET  /api/0.01/node_info  → node + running + recent tasks
  *
  * Uses only the JDK's built-in HttpServer — the engine has no web
  * framework dependency; this is a thin ops veneer over
  * [[graft.exec.StatusRegistry]].
  *
  * Transport security (the reference's amqps TLS analogue,
  * `pika_client.py:7-101`): pass a PKCS12 keystore path (constructor arg
  * or GRAFT_TLS_KEYSTORE / GRAFT_TLS_KEYSTORE_PASS) and the facade
  * serves HTTPS via the JDK's HttpsServer — no new dependency. Unset,
  * it serves plaintext on 127.0.0.1, the local-dev default where the
  * usual deployment terminates TLS at an ingress.
  */
final class StatusServer(
    runner: JobRunner,
    registry: TaskRegistry,
    status: StatusRegistry,
    nodeIdent: String = "graft-node",
    maxConcurrentTasks: Int = 8,
    authToken: Option[String] = sys.env.get("GRAFT_API_TOKEN"),
    tlsKeystore: Option[String] = sys.env.get("GRAFT_TLS_KEYSTORE"),
    tlsKeystorePass: Option[String] = sys.env.get("GRAFT_TLS_KEYSTORE_PASS")) {

  private var server: Option[HttpServer] = None
  private var handlers: Option[java.util.concurrent.ExecutorService] = None

  /** Shared-secret gate (the reference hardens its facade with amqps TLS
    * + gunicorn settings, `pika_client.py:7-101` / `main.py:79-87`; this
    * engine's analogue is a bearer token, TLS being the deployment
    * proxy's job): with `authToken` set — constructor arg or
    * GRAFT_API_TOKEN — every route requires `Authorization: Bearer
    * <token>`, compared constant-time. Unset = open (local dev), the
    * prior behavior.
    */
  private def authorized(ex: HttpExchange): Boolean = authToken match {
    case None => true
    case Some(tok) =>
      val got = Option(ex.getRequestHeaders.getFirst("Authorization"))
        .getOrElse("").getBytes(StandardCharsets.UTF_8)
      val want = s"Bearer $tok".getBytes(StandardCharsets.UTF_8)
      java.security.MessageDigest.isEqual(got, want)
  }

  private def guarded(h: HttpExchange => Unit): com.sun.net.httpserver.HttpHandler =
    (ex: HttpExchange) =>
      if (authorized(ex)) h(ex)
      else {
        ex.getResponseHeaders.set("WWW-Authenticate", "Bearer")
        respond(ex, 401, """{"error":"unauthorized"}""")
      }

  private def jsonStr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private def taskJson(r: TaskRecord): String = {
    val origin = r.outcome.collect {
      case TaskFailed(_, _, Some(o)) => s""","failure_origin_task_id":${jsonStr(o)}"""
    }.getOrElse("")
    val exc = r.outcome.collect {
      case TaskFailed(cls, _, _) => s""","exception_class_name":${jsonStr(cls)}"""
    }.getOrElse("")
    s"""{"task_id":${jsonStr(r.spec.taskId)},"model_class":${jsonStr(r.spec.modelClass)},""" +
      s""""method":${jsonStr(r.spec.method)},"status":${jsonStr(r.status)},""" +
      s""""started":${jsonStr(r.started.toString)},""" +
      s""""finished":${r.finished.map(f => jsonStr(f.toString)).getOrElse("null")}""" +
      s"""$exc$origin}"""
  }

  private def respond(ex: HttpExchange, code: Int, body: String,
      contentType: String = "application/json"): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", contentType)
    ex.sendResponseHeaders(code, bytes.length.toLong)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  // ---- HTML views (views/web.py:11-27 + templates/web_root.html,
  // task_details.html analogue): a human node-summary page at "/" and a
  // per-task page at "/task/<id>", templated over the same StatusRegistry
  // data the JSON API serves.

  private def esc(s: String): String = s.flatMap {
    case '<' => "&lt;"; case '>' => "&gt;"; case '&' => "&amp;"
    case '"' => "&quot;"; case c => c.toString
  }

  private def htmlPage(title: String, body: String): String =
    s"""<!DOCTYPE html><html><head><meta charset="utf-8"><title>${esc(title)}</title>
       |<style>body{font-family:sans-serif;margin:2em}table{border-collapse:collapse;margin:0.5em 0}
       |th,td{border:1px solid #ccc;padding:4px 10px;text-align:left}
       |tr:nth-child(even){background:#f5f5f5}</style></head>
       |<body>$body</body></html>""".stripMargin

  private def taskTable(ts: Seq[TaskRecord], withFinished: Boolean): String = {
    val finishedHead = if (withFinished) "<th>Finished</th>" else ""
    val rows = ts.map { r =>
      val finishedCell = if (withFinished)
        s"<td>${esc(r.finished.map(_.toString).getOrElse(""))}</td>" else ""
      s"""<tr><td><a href="/task/${esc(r.spec.taskId)}">${esc(r.spec.taskId)}</a></td>""" +
        s"<td>${esc(r.status)}</td><td>${esc(r.started.toString)}</td>$finishedCell" +
        s"<td>${esc(r.spec.modelClass)}</td><td>${esc(r.spec.method)}</td></tr>"
    }.mkString
    s"""<table><thead><tr><th>Task Id</th><th>Status</th><th>Started</th>
       |$finishedHead<th>Model class</th><th>Method</th></tr></thead>
       |<tbody>$rows</tbody></table>""".stripMargin
  }

  private def nodePage: String = {
    val running = status.runningTasks
    val recent = status.recentCompleted()
    val runningHtml =
      if (running.nonEmpty) taskTable(running, withFinished = false)
      else "<p>There aren't currently any running tasks.</p>"
    val recentHtml =
      if (recent.nonEmpty) taskTable(recent, withFinished = true)
      else "<p>This node hasn't run any tasks since it started.</p>"
    htmlPage(s"Graft — $nodeIdent",
      s"""<h1>Graft</h1><p><small>Spark execution engine for ETL models</small></p>
         |<h2>Node info</h2><table><tbody>
         |<tr><th>node_ident</th><td>${esc(nodeIdent)}</td></tr>
         |<tr><th>max_concurrent_tasks</th><td>$maxConcurrentTasks</td></tr>
         |<tr><th>available_processing_capacity</th><td>${runner.availableCapacity}</td></tr>
         |</tbody></table>
         |<h2>Running Tasks</h2>$runningHtml
         |<h2>Recently Completed Tasks</h2>$recentHtml""".stripMargin)
  }

  private def taskPage(r: TaskRecord): String = {
    val outcomeRows = r.outcome.map {
      case TaskComplete(rows) => s"<tr><th>rows</th><td>$rows</td></tr>"
      case TaskFailed(cls, tb, origin) =>
        s"<tr><th>exception_class_name</th><td>${esc(cls)}</td></tr>" +
          origin.map(o => s"<tr><th>failure_origin_task_id</th><td>${esc(o)}</td></tr>").getOrElse("") +
          s"<tr><th>traceback</th><td><pre>${esc(tb.mkString("\n"))}</pre></td></tr>"
    }.getOrElse("")
    val jobs = status.sparkJobs(r.spec.taskId)
    htmlPage(s"Task ${r.spec.taskId}",
      s"""<h1>Task Details</h1><table><tbody>
         |<tr><th>task_id</th><td>${esc(r.spec.taskId)}</td></tr>
         |<tr><th>model_class</th><td>${esc(r.spec.modelClass)}</td></tr>
         |<tr><th>method</th><td>${esc(r.spec.method)}</td></tr>
         |<tr><th>status</th><td>${esc(r.status)}</td></tr>
         |<tr><th>started</th><td>${esc(r.started.toString)}</td></tr>
         |<tr><th>finished</th><td>${esc(r.finished.map(_.toString).getOrElse(""))}</td></tr>
         |<tr><th>spark_jobs</th><td>${jobs.mkString(", ")}</td></tr>
         |$outcomeRows
         |</tbody></table><p><a href="/">&larr; node summary</a></p>""".stripMargin)
  }

  // Request-body parsing via Jackson (ships with Spark — no extra dep).
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private def parseJson(body: String): Option[com.fasterxml.jackson.databind.JsonNode] =
    try Option(mapper.readTree(body)).filter(_.isObject)
    catch { case scala.util.control.NonFatal(_) => None }

  private def strField(node: com.fasterxml.jackson.databind.JsonNode,
      name: String): Option[String] =
    Option(node.get(name)).filter(n => !n.isNull).map(_.asText)

  /** Structurally invalid request body — surfaces as a 400 (the
    * reference's submit path would TypeError on the same shape).
    */
  private final class BadRequest(msg: String) extends RuntimeException(msg)

  /** A nested {"k": "v", ...} object field as a string map (scalar values
    * stringified) — the shape of method_kwargs / resolver_context /
    * model_construction_kwargs in the reference submit API
    * (views/api.py:41-50). Non-object fields and nested object/array
    * values are REJECTED (BadRequest → 400), never silently emptied:
    * JsonNode.asText returns "" for containers, which would submit a
    * corrupted task.
    */
  private def mapField(node: com.fasterxml.jackson.databind.JsonNode,
      name: String): Map[String, String] =
    Option(node.get(name)).filter(n => !n.isNull).map { o =>
      if (!o.isObject)
        throw new BadRequest(s"'$name' must be a JSON object, got ${o.getNodeType}")
      val b = Map.newBuilder[String, String]
      val it = o.fields()
      while (it.hasNext) {
        val e = it.next()
        if (!e.getValue.isValueNode)
          throw new BadRequest(
            s"'$name.${e.getKey}' must be a scalar, got ${e.getValue.getNodeType}")
        b += e.getKey -> e.getValue.asText
      }
      b.result()
    }.getOrElse(Map.empty)

  /** TLS context from a PKCS12 keystore — standard JSSE wiring, key
    * material stays in deployment config, never in code.
    */
  private def sslContext(path: String, pass: Array[Char]): javax.net.ssl.SSLContext = {
    val ks = java.security.KeyStore.getInstance("PKCS12")
    val in = java.nio.file.Files.newInputStream(java.nio.file.Paths.get(path))
    try ks.load(in, pass) finally in.close()
    val kmf = javax.net.ssl.KeyManagerFactory.getInstance(
      javax.net.ssl.KeyManagerFactory.getDefaultAlgorithm)
    kmf.init(ks, pass)
    val ctx = javax.net.ssl.SSLContext.getInstance("TLS")
    ctx.init(kmf.getKeyManagers, null, null)
    ctx
  }

  private def scheme: String = if (tlsKeystore.isDefined) "https" else "http"

  def start(port: Int = 0): Int = {
    val s = tlsKeystore match {
      case Some(path) =>
        val hs = HttpsServer.create(new InetSocketAddress("127.0.0.1", port), 0)
        hs.setHttpsConfigurator(new HttpsConfigurator(
          sslContext(path, tlsKeystorePass.getOrElse("").toCharArray)))
        hs
      case None => HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
    }
    s.createContext("/api/0.01/node_info", guarded { ex =>
      val running = status.runningTasks.map(taskJson).mkString("[", ",", "]")
      val recent = status.recentCompleted().map(taskJson).mkString("[", ",", "]")
      respond(ex, 200,
        s"""{"node_info":{"node_ident":${jsonStr(nodeIdent)},""" +
          s""""max_concurrent_tasks":$maxConcurrentTasks,""" +
          s""""available_processing_capacity":${runner.availableCapacity}},""" +
          s""""running_tasks":$running,"recent_completed_tasks":$recent}""")
    })
    // API index (views/api.py:17-20) — the reference's liveness hello.
    // Context path WITHOUT the trailing slash so the bare probe URL
    // /api/0.01 matches too (JDK contexts are prefix-matched; /task and
    // /node_info still win as longer prefixes).
    s.createContext("/api/0.01", guarded { ex =>
      if (ex.getRequestURI.getPath.stripSuffix("/") == "/api/0.01")
        respond(ex, 200, """{"hello":"world"}""")
      else respond(ex, 404, """{"error":"not found"}""")
    })
    s.createContext("/api/0.01/task", guarded { ex =>
      val path = ex.getRequestURI.getPath
      if (ex.getRequestMethod == "GET" && path.matches(".*/task/[^/]+$")) {
        val id = path.substring(path.lastIndexOf('/') + 1)
        status.record(id) match {
          case Some(r) => respond(ex, 200, taskJson(r))
          // unknown task is a 404 (views/api.py:80-81), not a soft 200
          case None => respond(ex, 404, """{"message":"task unknown"}""")
        }
      } else if (ex.getRequestMethod == "POST") {
        val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
        parseJson(body) match {
          case None =>
            respond(ex, 400, """{"error":"request body is not a JSON object"}""")
          case Some(doc) => strField(doc, "model_class") match {
            case None =>
              respond(ex, 400, """{"error":"model_class is mandatory"}""")
            case Some(cls) if !registry.isAccepted(cls) =>
              respond(ex, 412, s"""{"error":${jsonStr(s"class '$cls' not accepted")}}""")
            case Some(cls) =>
              try {
                // full TaskMessage fidelity (views/api.py:41-50): kwargs and
                // resolver context ride the spec into method dispatch
                val spec = TaskSpec(modelClass = cls,
                  method = strField(doc, "method").getOrElse("go"),
                  methodKwargs = mapField(doc, "method_kwargs"),
                  resolverContext = mapField(doc, "resolver_context"),
                  modelConstructionKwargs = mapField(doc, "model_construction_kwargs"),
                  partitionInitialiseKwargs = mapField(doc, "partition_initialise_kwargs"))
                runner.submit(spec, blockMillis = 1000): Unit
                // reference submit shape (views/api.py:61-71): an external
                // link to the task resource + the accepting node's ident
                val taskUrl = s"$scheme://127.0.0.1:${s.getAddress.getPort}" +
                  s"/api/0.01/task/${spec.taskId}"
                respond(ex, 200,
                  s"""{"_metadata":{"links":{"task":${jsonStr(taskUrl)}}},""" +
                    s""""governor_accepted_ident":${jsonStr(nodeIdent)},""" +
                    s""""task_id":${jsonStr(spec.taskId)},""" +
                    s""""status_url":${jsonStr(s"/api/0.01/task/${spec.taskId}")}}""")
              } catch {
                case e: BadRequest =>
                  respond(ex, 400, s"""{"error":${jsonStr(e.getMessage)}}""")
                case _: NoCapacity =>
                  respond(ex, 503, """{"error":"no processing capacity"}""")
                case e: InvalidTaskSpec => // e.g. unknown method/kwargs (412 analogue)
                  respond(ex, 412, s"""{"error":${jsonStr(e.getMessage)}}""")
              }
          }
        }
      } else respond(ex, 404, """{"error":"not found"}""")
    })
    // HTML views ("/" is HttpServer's fallback context)
    s.createContext("/", guarded { ex =>
      val path = ex.getRequestURI.getPath
      if (path == "/" || path == "/index.html")
        respond(ex, 200, nodePage, "text/html; charset=utf-8")
      else if (path.matches("^/task/[^/]+$")) {
        val id = path.substring(path.lastIndexOf('/') + 1)
        status.record(id) match {
          case Some(r) => respond(ex, 200, taskPage(r), "text/html; charset=utf-8")
          case None => respond(ex, 404, "Task not found", "text/html; charset=utf-8")
        }
      } else respond(ex, 404, """{"error":"not found"}""")
    })
    // one thread per in-flight request: a POST waiting up to 1 s for
    // capacity must not stall GETs and node_info behind it (the handlers
    // only touch TrieMaps, the capacity semaphore and a thread-safe mapper)
    val pool = java.util.concurrent.Executors.newCachedThreadPool { r =>
      val t = new Thread(r, "graft-http"); t.setDaemon(true); t
    }
    s.setExecutor(pool)
    s.start()
    server = Some(s)
    handlers = Some(pool)
    s.getAddress.getPort
  }

  def stop(): Unit = {
    server.foreach(_.stop(0)); server = None
    handlers.foreach(_.shutdown()); handlers = None
  }
}
