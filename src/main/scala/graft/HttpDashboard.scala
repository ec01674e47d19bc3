package graft

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8

import com.sun.net.httpserver.{HttpExchange, HttpServer}

import graft.store.{KvDomainReader, ServedDomainStatus}

/**
 * Ops dashboard over HTTP — the serving daemon's analog of the
 * reference's web UI (`elephantdb-server/src/clj/elephantdb/ui/
 * handler.clj:1-111` rendered a domain list page and per-domain status
 * pages off the live service). Spark-free, dependency-free (JDK
 * `com.sun.net.httpserver`), read-only:
 *
 *  - `GET /`                    — HTML: daemon summary + domain census
 *  - `GET /domain/<name>`       — HTML: spec, versions, per-shard table
 *  - `GET /status.json`         — the census as JSON (machine-readable)
 *  - `GET /domain/<name>.json`  — per-domain detail as JSON
 *  - `GET /metrics.json`        — the socket server's op counters,
 *                                 per-op latency histograms and kvz
 *                                 block-cache counters
 *                                 ([[graft.store.KvServer.metricsSnapshot]],
 *                                 what a scraper polls);
 *                                 `?window=SECONDS` adds the in-daemon
 *                                 history samples inside the window
 *                                 (bounded ring, one sampler thread) —
 *                                 rate-of-change without external
 *                                 scrape tooling (the reference leaned
 *                                 on Graphite, common/metrics.clj:5-15)
 *  - `GET /healthz`             — 200 `ok` when fully loaded, 503 while
 *                                 any domain is still loading (load-
 *                                 balancer readiness semantics; a failed
 *                                 domain reports 503 too — a box that
 *                                 cannot serve part of the census must
 *                                 not take traffic for it)
 *
 * The census closure is the SAME one the socket protocol's STATUS op
 * answers from, so the two surfaces can never disagree. Shard tables
 * come from [[KvDomainReader.shardCounts]] — trailer-tail reads, never
 * data pages: a dashboard poll must stay O(shards) metadata I/O.
 *
 * Requests run on a small fixed pool; the dashboard must never compete
 * with lookup traffic for more than its cap. Unknown paths 404; every
 * response is written whole (no streaming) so a dropped client cannot
 * wedge a handler thread.
 */
final class HttpDashboard private (
    server: HttpServer,
    pool: java.util.concurrent.ExecutorService,
    samplerStop: java.util.concurrent.atomic.AtomicBoolean,
    sampler: Option[Thread]) extends AutoCloseable {

  def boundPort: Int = server.getAddress.getPort

  def close(): Unit = {
    samplerStop.set(true)
    // join-until-dead, the Handle.close discipline: a tick already past
    // the stop check must not run its metrics() closure against
    // components the caller tears down right after close() returns
    sampler.foreach(Threads.joinUntilDead(_))
    server.stop(0)
    pool.shutdownNow()
  }
}

object HttpDashboard {

  /** Handler threads — a dashboard, not a service tier. */
  val Threads: Int = 4

  private def esc(s: String): String =
    s.flatMap {
      case '<' => "&lt;"
      case '>' => "&gt;"
      case '&' => "&amp;"
      case '"' => "&quot;"
      case c => c.toString
    }

  private def jstr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private def statusJson(d: ServedDomainStatus): String =
    s"""{"name":${jstr(d.name)},"status":${jstr(d.status)},""" +
      s""""served_version":${d.servedVersion},"latest_published":${d.latestPublished},""" +
      s""""updating":${d.updating}}"""

  /** Ring buffer cap for the in-daemon metrics history: 360 samples =
    * 1 h at the default 10 s cadence. Bounded — a long-lived daemon's
    * dashboard must hold a fixed-size window, never grow. */
  val HistorySamples: Int = 360

  def start(
      port: Int,
      census: () => Seq[ServedDomainStatus],
      readers: () => Map[String, KvDomainReader],
      socketPort: () => Int,
      metrics: () => Seq[(String, Long)] = () => Nil,
      bindAddress: String = "127.0.0.1",
      sampleIntervalMs: Long = 10000L): HttpDashboard = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      Threads,
      (r: Runnable) => {
        val t = new Thread(r, "graft-dashboard")
        t.setDaemon(true)
        t
      })
    // default loopback, MATCHING KvServer's bind policy: the dashboard
    // must never be reachable from networks the data surface was
    // deliberately scoped away from (it leaks domain names, versions,
    // counts, metrics)
    val server = HttpServer.create(
      new InetSocketAddress(java.net.InetAddress.getByName(bindAddress), port), 0)
    server.setExecutor(pool)

    // in-daemon metrics history: a bounded ring of (epochMillis,
    // snapshot) samples taken by ONE daemon thread — /metrics.json?window=
    // serves rate-of-change from it (a Nil source stores empty
    // snapshots: cheap, bounded, and the window surface stays uniform).
    val history = new scala.collection.mutable.ArrayDeque[(Long, Seq[(String, Long)])]()
    val samplerStop = new java.util.concurrent.atomic.AtomicBoolean(false)

    def respond(ex: HttpExchange, code: Int, contentType: String, body: String): Unit = {
      val bytes = body.getBytes(UTF_8)
      try {
        ex.getResponseHeaders.set("Content-Type", s"$contentType; charset=utf-8")
        ex.sendResponseHeaders(code, bytes.length.toLong)
        ex.getResponseBody.write(bytes)
      } catch {
        case _: java.io.IOException => () // client went away mid-write
      } finally ex.close()
    }

    def fullyLoaded(cs: Seq[ServedDomainStatus]): Boolean =
      cs.forall(_.status == "ready")

    def overviewHtml(): String = {
      val cs = census()
      val rows = cs.map { d =>
        val cls = d.status match {
          case "ready" => "ok"
          case "failed" => "bad"
          case _ => "warn"
        }
        val behind =
          if (d.servedVersion >= 0 && d.latestPublished > d.servedVersion) " (update due)"
          else ""
        s"""<tr><td><a href="/domain/${esc(d.name)}">${esc(d.name)}</a></td>""" +
          s"""<td class="$cls">${esc(d.status)}$behind</td>""" +
          s"<td>${if (d.servedVersion < 0) "—" else d.servedVersion.toString}</td>" +
          s"<td>${if (d.latestPublished < 0) "—" else d.latestPublished.toString}</td>" +
          s"<td>${if (d.updating) "yes" else "no"}</td></tr>"
      }.mkString("\n")
      s"""<!doctype html><html><head><title>graft serving</title>$Style</head><body>
         |<h1>graft serving daemon</h1>
         |<p>lookup port <b>${socketPort()}</b> · ${cs.count(_.status == "ready")}/${cs.size}
         | domains ready · ${if (fullyLoaded(cs)) "<span class=ok>fully loaded</span>"
        else "<span class=warn>loading</span>"}</p>
         |<table><tr><th>domain</th><th>status</th><th>served</th>
         |<th>latest</th><th>updating</th></tr>
         |$rows</table>
         |<p><a href="/status.json">status.json</a> · <a href="/metrics.json">metrics.json</a></p>
         |</body></html>""".stripMargin
    }

    def domainDetail(name: String): Option[(String, String)] = {
      // census entry (may exist while the reader does not: still loading)
      val entry = census().find(_.name == name)
      val reader = readers().get(name)
      if (entry.isEmpty && reader.isEmpty) return None
      val shardTable = reader.map(_.shardCounts())
      val specLine = reader.map(r =>
        s"${r.spec.numShards} shards · format ${r.spec.persistenceFormat} · " +
          s"scheme ${r.spec.shardScheme} · indexer ${r.spec.indexer}")
      val html = {
        val head = entry.map { d =>
          s"<p>status <b>${esc(d.status)}</b> · served version " +
            s"${if (d.servedVersion < 0) "—" else d.servedVersion.toString} · latest published " +
            s"${if (d.latestPublished < 0) "—" else d.latestPublished.toString} · updating " +
            s"${if (d.updating) "yes" else "no"}</p>"
        }.getOrElse("")
        val spec = specLine.map(s => s"<p>${esc(s)}</p>").getOrElse("")
        val shards = shardTable.map { sc =>
          val total = sc.map(_._2).sum
          val rows = sc.map { case (s, n, present) =>
            s"<tr><td>$s</td><td>${if (present) n.toString else "—"}</td>" +
              s"<td>${if (present) "yes" else "no"}</td></tr>"
          }.mkString("\n")
          s"""<p>$total pairs hosted over ${sc.count(_._3)} present shards</p>
             |<table><tr><th>shard</th><th>pairs</th><th>present</th></tr>
             |$rows</table>""".stripMargin
        }.getOrElse("<p>not loaded on this box yet</p>")
        s"""<!doctype html><html><head><title>${esc(name)} — graft</title>$Style</head><body>
           |<p><a href="/">&larr; domains</a></p>
           |<h1>${esc(name)}</h1>
           |$head$spec$shards
           |<p><a href="/domain/${esc(name)}.json">json</a></p>
           |</body></html>""".stripMargin
      }
      val json = {
        val base = entry.map(statusJson).getOrElse(s"""{"name":${jstr(name)}}""")
        val shardsJson = shardTable.map { sc =>
          val arr = sc.map { case (s, n, present) =>
            s"""{"shard":$s,"pairs":$n,"present":$present}"""
          }.mkString("[", ",", "]")
          s""","num_shards":${reader.get.spec.numShards},""" +
            s""""format":${jstr(reader.get.spec.persistenceFormat)},""" +
            s""""shard_scheme":${jstr(reader.get.spec.shardScheme)},""" +
            s""""indexer":${jstr(reader.get.spec.indexer)},""" +
            s""""total_pairs":${sc.map(_._2).sum},"shards":$arr"""
        }.getOrElse("")
        base.dropRight(1) + shardsJson + "}"
      }
      Some((html, json))
    }

    server.createContext("/", (ex: HttpExchange) => {
      try {
        val path = ex.getRequestURI.getPath
        if (ex.getRequestMethod != "GET")
          respond(ex, 405, "text/plain", "GET only\n")
        else path match {
          case "/" =>
            respond(ex, 200, "text/html", overviewHtml())
          case "/status.json" =>
            val cs = census()
            respond(ex, 200, "application/json",
              s"""{"lookup_port":${socketPort()},"fully_loaded":${fullyLoaded(cs)},""" +
                s""""domains":${cs.map(statusJson).mkString("[", ",", "]")}}""")
          case "/healthz" =>
            if (fullyLoaded(census())) respond(ex, 200, "text/plain", "ok\n")
            else respond(ex, 503, "text/plain", "loading\n")
          case "/metrics.json" =>
            // bare: the live counter snapshot (backward-compatible).
            // ?window=SECONDS: the snapshot PLUS the in-daemon history
            // samples inside the window — rate-of-change for an
            // operator without external scrape tooling (the reference
            // leaned on Graphite reporters, common/metrics.clj:5-15)
            val window = Option(ex.getRequestURI.getQuery)
              .flatMap(_.split("&").collectFirst {
                case q if q.startsWith("window=") =>
                  try q.stripPrefix("window=").toLong
                  catch { case _: NumberFormatException => -1L }
              })
            window match {
              case None =>
                respond(ex, 200, "application/json",
                  metrics().map { case (k, v) => s"${jstr(k)}:$v" }
                    .mkString("{", ",", "}"))
              case Some(w) if w <= 0 =>
                respond(ex, 400, "text/plain", "window must be a positive integer (seconds)\n")
              case Some(w) =>
                val cutoff = System.currentTimeMillis() - w * 1000L
                val samples = history.synchronized {
                  history.toSeq.filter(_._1 >= cutoff)
                }
                val sampleJson = samples.map { case (ts, m) =>
                  s"""{"ts":$ts,"counters":${
                    m.map { case (k, v) => s"${jstr(k)}:$v" }.mkString("{", ",", "}")}}"""
                }.mkString("[", ",", "]")
                respond(ex, 200, "application/json",
                  s"""{"now":${metrics().map { case (k, v) => s"${jstr(k)}:$v" }
                    .mkString("{", ",", "}")},"interval_ms":$sampleIntervalMs,""" +
                    s""""samples":$sampleJson}""")
            }
          case p if p.startsWith("/domain/") =>
            val raw = p.stripPrefix("/domain/")
            val (name, wantJson) =
              if (raw.endsWith(".json")) (raw.dropRight(5), true) else (raw, false)
            domainDetail(java.net.URLDecoder.decode(name, "UTF-8")) match {
              case Some((html, json)) =>
                if (wantJson) respond(ex, 200, "application/json", json)
                else respond(ex, 200, "text/html", html)
              case None => respond(ex, 404, "text/plain", s"no such domain\n")
            }
          case _ => respond(ex, 404, "text/plain", "not found\n")
        }
      } catch {
        // a handler failure must answer, not leak the exchange: the
        // census/reader closures can throw on transient FS errors
        case e: Exception =>
          respond(ex, 500, "text/plain", s"${e.getClass.getSimpleName}: ${e.getMessage}\n")
      }
    })
    server.start()
    val sampler = {
      Some {
        val t = new Thread(() => {
          while (!samplerStop.get()) {
            try {
              val snap = metrics()
              val now = System.currentTimeMillis()
              history.synchronized {
                history.append(now -> snap)
                while (history.size > HistorySamples) history.removeHead()
              }
            } catch { case _: Exception => () } // transient source failure: skip the tick
            try Thread.sleep(sampleIntervalMs)
            catch { case _: InterruptedException => () } // stop flag governs exit
          }
        }, "graft-dashboard-sampler")
        t.setDaemon(true)
        t.start()
        t
      }
    }
    new HttpDashboard(server, pool, samplerStop, sampler)
  }

  private val Style: String =
    """<style>body{font-family:sans-serif;margin:2em;color:#222}
      |table{border-collapse:collapse}td,th{border:1px solid #ccc;
      |padding:4px 10px;text-align:left}th{background:#f4f4f4}
      |.ok{color:#0a7d32}.warn{color:#b07d00}.bad{color:#b00020}
      |</style>""".stripMargin
}
