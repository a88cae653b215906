package graft.serve

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.rec.{Engine, RecsApi}

/** The reference's HTTP front door over the library dispatch — the one
  * user-facing surface round 1 left out. Endpoint parity:
  *   - `GET /health`, `GET /` (`tp2/app/main.py:37-58`, `api.py:60-64`);
  *   - `GET /recs?strategy=&customer_id=&limit=` → the tp2 strategy
  *     dispatch (`main.py:61-89`), envelope
  *     `{strategy, customer_id, recommendations}` (`main.py:118-123`);
  *     unknown strategy → 400 (`main.py:85-89`);
  *   - `GET /customers/{id}/recommendations?top_n=` → the tp1 blended
  *     engine (`api.py:66-76`), items carrying the per-strategy
  *     `contributions` map (`api.py:40-50`,
  *     keys `recommendation.py:10-14,227`); unknown customer → 404;
  *   - `GET /customers/{id}/strategies?top_n=` → the raw per-strategy
  *     breakdown (`api.py:78-96`).
  *
  * Built on the JDK's `HttpServer` — no added dependency, sufficient for
  * the reference's GET-only surface. The server is a thin JSON mapper:
  * Spark remains the query engine, and every response materializes at
  * most `clampTopN`-sized results (plus the breakdown's per-strategy
  * rows), so `collect()` here is the API's intended small-result sink,
  * not a distributed-compute escape hatch.
  *
  * Concurrency posture (round 13, explicit): request handling is
  * SINGLE-FLIGHT BY CONSTRUCTION — `setExecutor(null)` pins every
  * exchange to the server's dispatcher thread, the same one-worker
  * model as the reference's `uvicorn main:app` deployment
  * (`tp2/app/main.py`). A blended request over a graph within
  * `Engine.ServeLocalRows` rows is one Spark job that
  * caches nothing ([[graft.rec.Engine.serveLocal]]), so it shares no
  * per-request state. The above-threshold DataFrame path is the
  * deliberate pairing with [[graft.model.BuilderCache.cacheOnce]]'s
  * documented contract: its per-request seed/candidate frames are
  * cached then blockingly unpersisted per request, and two IN-FLIGHT
  * identical requests would share one live cache entry whose first
  * release drops it under the other (correct via lineage recompute,
  * but silently uncached).
  * Serialization makes the zero-steady-state-growth property exact —
  * ServeSpec fires parallel CLIENTS and asserts per-customer responses
  * stay byte-identical to their serial baselines with zero cache
  * growth. Scaling serving concurrency is a deployment concern (N
  * single-flight replicas behind a balancer, each with its own
  * session), not a per-JVM thread-pool concern: Spark job throughput
  * on one session is scheduler-bound long before handler threading
  * matters at top-10-result sizes. */
final class HttpApi private[graft] (spark: SparkSession, dir: String,
    port: Int, graph: Option[Engine.ProductGraph], localRows: Long) {
  import HttpApi.{detail, jStr}

  // `localRows` is the serving kernel's row limit; only tests pass one
  // (0 sends every blended request down the DataFrame path)
  def this(spark: SparkSession, dir: String, port: Int = 0,
      graph: Option[Engine.ProductGraph] = None) =
    this(spark, dir, port, graph, Engine.ServeLocalRows)

  // injectable graph: the reference's incidence includes event→product
  // edges the testdata schema cannot carry, so golden-fixture parity
  // tests (SURVEY §3.1 via FIXTURES §A.2) serve the exact toy
  // ProductGraph; production servers use the order-derived default
  private val g = graph.getOrElse(Engine.fromOrders(spark, dir))
  private val server =
    HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
  // null executor = the dispatcher thread handles every exchange in
  // sequence (see class scaladoc: single-flight is the cacheOnce
  // contract, stated explicitly rather than relied on as a default)
  server.setExecutor(null)

  def boundPort: Int = server.getAddress.getPort

  def start(): Int = { server.start(); boundPort }
  def stop(): Unit = server.stop(0)

  private def jVal(v: Any): String = v match {
    case null => "null"
    case n: Long => n.toString
    case n: Int => n.toString
    case n: Double => if (n.isNaN || n.isInfinite) "null" else n.toString
    case n: Float => jVal(n.toDouble)
    case b: Boolean => b.toString
    case other => jStr(other.toString)
  }

  private def rows(df: DataFrame): String = {
    val names = df.schema.fieldNames
    df.collect().map { r =>
      names.indices.map(i => jStr(names(i)) + ":" + jVal(r.get(i)))
        .mkString("{", ",", "}")
    }.mkString("[", ",", "]")
  }

  // ---- request plumbing ----

  // decode the RAW query exactly once: getQuery() is already decoded,
  // and a second pass would split a value on an escaped '&' and throw
  // on an escaped '%' (`%25zz`). A malformed escape never reaches a
  // handler — the JDK server answers it with a 400 itself.
  private def params(ex: HttpExchange): Map[String, String] =
    Option(ex.getRequestURI.getRawQuery).getOrElse("").split("&")
      .filter(_.contains("=")).map { kv =>
        val Array(k, v) = kv.split("=", 2)
        java.net.URLDecoder.decode(k, "UTF-8") ->
          java.net.URLDecoder.decode(v, "UTF-8")
      }.toMap

  private def send(ex: HttpExchange, status: Int, body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(status, bytes.length.toLong)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  private def handler(f: HttpExchange => (Int, String)) =
    new com.sun.net.httpserver.HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        val (status, body) =
          try f(ex)
          catch { case e: Throwable => HttpApi.failure(e) }
        send(ex, status, body)
      }
    }

  // ---- endpoints ----

  server.createContext("/health", handler { _ => (200, """{"ok":true}""") })

  server.createContext("/recs", handler { ex =>
    val p = params(ex)
    val strategy = p.getOrElse("strategy", "co_occurrence")
    val cid = p.get("customer_id").flatMap(_.toLongOption)
    val limit = p.get("limit").flatMap(_.toIntOption).getOrElse(10)
    if (!RecsApi.Strategies(strategy))
      (400, detail(s"Unknown strategy: $strategy. Use: " +
        RecsApi.Strategies.mkString(", ")))
    else {
      val df = RecsApi.recs(spark, dir, strategy, cid, limit)
      (200, s"""{"strategy":${jStr(strategy)},"customer_id":${
        cid.map(_.toString).getOrElse("null")},"recommendations":${rows(df)}}""")
    }
  })

  server.createContext("/customers", handler { ex =>
    val path = ex.getRequestURI.getPath.split("/").filter(_.nonEmpty)
    // exactly /customers/{id}/recommendations | /customers/{id}/strategies
    (if (path.length == 3) (path(1).toLongOption, Some(path(2)))
     else (None, None)) match {
      case (Some(id), Some("recommendations")) =>
        val topN = params(ex).get("top_n").flatMap(_.toIntOption).getOrElse(3)
        try {
          // recommendRows releases the per-request caches after collect —
          // a long-lived server must not accumulate one entry per request
          val items = Engine.recommendRowsWithin(spark, g, id, topN,
              localRows).map { r =>
            s"""{"product_id":${r.getLong(0)},"score":${r.getDouble(1)},""" +
              s""""contributions":{"co_occurrence":${r.getDouble(2)},""" +
              s""""similarity":${r.getDouble(3)},""" +
              s""""personalized_pagerank":${r.getDouble(4)},""" +
              s""""global_pagerank":${r.getDouble(5)}}}"""
          }.mkString("[", ",", "]")
          (200, s"""{"customer_id":$id,"recommendations":$items}""")
        } catch {
          case e: IllegalArgumentException => (404, detail(e.getMessage))
        }
      case (Some(id), Some("strategies")) =>
        val topN = RecsApi.clampTopN(
          params(ex).get("top_n").flatMap(_.toIntOption).getOrElse(3))
        try {
          val by = Engine.breakdownRowsWithin(spark, g, id, localRows)
            .groupBy(_.getString(0))
          // the reference's breakdown dict always carries every strategy
          // key, empty lists included (recommendation.py:70-89); seedless
          // customers get the single global_pagerank key instead (:79)
          val keys =
            if (by.contains("global_pagerank")) Seq("global_pagerank")
            else Seq("co_occurrence", "similarity", "personalized_pagerank")
          val strategies = keys.map { name =>
            jStr(name) + ":" + by.getOrElse(name, Array.empty).take(topN)
              .map { r =>
                s"""{"product_id":${r.getLong(1)},"score":${r.getDouble(2)}}"""
              }.mkString("[", ",", "]")
          }.mkString("{", ",", "}")
          (200, s"""{"customer_id":$id,"strategies":$strategies}""")
        } catch {
          case e: IllegalArgumentException => (404, detail(e.getMessage))
        }
      case _ => (404, detail("Not found"))
    }
  })

  server.createContext("/", handler { ex =>
    if (ex.getRequestURI.getPath != "/") (404, detail("Not found"))
    else (200,
      """{"message":"Graft Graph Recommendations API","endpoints":{""" +
        """"health":"/health","recommendations":"/recs"}}""")
  })
}

object HttpApi {
  // ---- JSON (hand-rolled: values are numbers, strings, null only) ----

  private def jStr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private def detail(msg: String): String =
    s"""{"detail":${jStr(msg)}}""" // FastAPI's error envelope (main.py:87)

  /** The catch-all 500. An exception without a message is named by its
    * class: a null detail would throw inside the handler's own catch and
    * drop the connection instead of answering. */
  private[graft] def failure(e: Throwable): (Int, String) =
    (500, detail(Option(e.getMessage).getOrElse(e.getClass.getName)))
}

/** Standalone server main: `runMain graft.serve.HttpMain [sfDir] [port]`. */
object HttpMain {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val port = if (args.length > 1) args(1).toInt else 8080
    val spark = graft.Session()
    val api = new HttpApi(spark, dir, port)
    println(s"graft http api listening on ${api.start()}")
    Thread.currentThread().join()
  }
}
