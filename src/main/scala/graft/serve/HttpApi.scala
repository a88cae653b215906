package graft.serve

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

import scala.collection.mutable

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

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
  *     breakdown (`api.py:78-96`);
  *   - `GET /metrics` → per route: requests, answers by status class and
  *     a latency histogram in power-of-two ms buckets; paths that name
  *     no route count under `other`. Under `serving`: the rows of the
  *     held snapshot (null before its first request or past the bound),
  *     and the blended and 3-hop requests answered from it and by the
  *     DataFrame path.
  * Each route answers its exact path only; any other path is 404.
  *
  * How the blended routes are served. On the first request that needs
  * it the server reads every input of the blended engine, for every
  * customer, into one driver-side [[graft.rec.Engine.ServeSnapshot]] in
  * one Spark job: the known customers, the baskets, the cooc out-edges
  * with their transition weights, the Jaccard pairs and the product ids.
  * Every later request, an unknown id included, is answered from it with
  * no Spark job. At sf0.001 the snapshot is 43 353 rows, about 1.1 MB,
  * and a warm blended request takes 1.4–1.7 ms over HTTP (route medians
  * of a traced `serve` run, `local[2]` on 4 cores), against about 85 ms
  * for the one-job kernel it replaced. When the cached inputs sum past
  * `Engine.ServeLocalRows` rows the snapshot is not made and every
  * request takes the DataFrame path. The snapshot is not read before
  * the first request that needs it; only the graph is read at
  * construction, so a server given its graph answers `/health` having
  * started no Spark job.
  *
  * How `/recs` is served. `limit` is clamped to at most 10, so three of
  * its four variants are fixed by the tables: co_occurrence (which
  * ignores `customer_id`), pagerank (order frequency) and similarity
  * without a customer (popularity). The server computes each one's
  * top-10 through [[graft.rec.RecsApi.recs]] on the strategy's first
  * request, holds the rendered rows, and answers every later request
  * with their first `limit`, no Spark job run. The held lists and the
  * snapshot reflect the tables at their first request, just as `g` and
  * the builder memos pin them. Similarity with a customer, the 3-hop
  * collaborative filter, is answered with no Spark job from the
  * snapshot's baskets when the server read its graph from `dir`, whose
  * incidence is the exploded baskets the filter reads. A server given
  * its graph, or one past the bound, answers it by `RecsApi.recs`'
  * DataFrame plan. Every answer is the library's, byte for byte
  * (ServeSpec).
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
  * `Engine.ServeLocalRows` rows reads only the immutable snapshot and
  * caches nothing, so it shares no per-request state. The
  * above-threshold DataFrame path is the
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

  // `localRows` is the snapshot's row limit; only tests pass one (0
  // sends every blended and 3-hop `/recs` request down the DataFrame
  // path)
  def this(spark: SparkSession, dir: String, port: Int = 0,
      graph: Option[Engine.ProductGraph] = None) =
    this(spark, dir, port, graph, Engine.ServeLocalRows)

  // injectable graph: the reference's incidence includes event→product
  // edges the testdata schema cannot carry, so golden-fixture parity
  // tests (SURVEY §3.1 via FIXTURES §A.2) serve the exact toy
  // ProductGraph; production servers use the order-derived default
  private val g = graph.getOrElse(Engine.fromOrders(spark, dir))
  // Headers and body go out in separate writes: without TCP_NODELAY the
  // client's delayed ACK holds the body ~40 ms. Read once, when the JDK
  // server's config class loads, so set before the first server.
  System.setProperty("sun.net.httpserver.nodelay", "true")
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

  /** Each collected row of `df` as one JSON object. */
  private def rows(df: DataFrame): Array[String] = {
    val names = df.schema.fieldNames
    df.collect().map { r =>
      names.indices.map(i => jStr(names(i)) + ":" + jVal(r.get(i)))
        .mkString("{", ",", "}")
    }
  }

  // ---- request plumbing ----

  // decode the RAW query exactly once: getQuery() is already decoded,
  // and a second pass would split a value on an escaped '&' and throw
  // on an escaped '%' (`%25zz`). A malformed escape never reaches the
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

  /** The route a path names, exactly, and its answer; `other` (404) for
    * every path that names none. One context takes every path: the JDK
    * server matches contexts by raw string prefix, so a `/recs` context
    * would also answer `/recsjunk` and `/recs/x`. */
  private def route(ex: HttpExchange): (String, () => (Int, String)) = {
    def topN = params(ex).get("top_n").flatMap(_.toIntOption).getOrElse(3)
    ex.getRequestURI.getPath.split("/", -1) match {
      case Array("", "") => ("/", () => (200,
        """{"message":"Graft Graph Recommendations API","endpoints":{""" +
          """"health":"/health","recommendations":"/recs"}}"""))
      case Array("", "health") => ("/health", () => (200, """{"ok":true}"""))
      case Array("", "recs") => ("/recs", () => recs(params(ex)))
      case Array("", "metrics") => ("/metrics", () => (200, metricsJson))
      case Array("", "customers", Id(id), "recommendations") =>
        ("/customers/{id}/recommendations", () => recommendations(id, topN))
      case Array("", "customers", Id(id), "strategies") =>
        ("/customers/{id}/strategies", () => strategies(id, topN))
      case _ => (HttpApi.Other, () => (404, detail("Not found")))
    }
  }

  private object Id {
    def unapply(s: String): Option[Long] = s.toLongOption
  }

  // ---- /recs ----

  /** Rendered top-10 lists of the request-independent `/recs` variants,
    * by strategy: each made on its strategy's first request. */
  private val held = mutable.HashMap.empty[String, Array[String]]

  private def recs(p: Map[String, String]): (Int, String) = {
    val strategy = p.getOrElse("strategy", "co_occurrence")
    val cid = p.get("customer_id").flatMap(_.toLongOption)
    val n = RecsApi.clampTopN(p.get("limit").flatMap(_.toIntOption)
      .getOrElse(10))
    if (!RecsApi.Strategies(strategy))
      return (400, detail(s"Unknown strategy: $strategy. Use: " +
        RecsApi.Strategies.mkString(", ")))
    val items = (strategy, cid) match {
      // an injected graph's incidence is not `dir`'s: its snapshot cannot
      // answer the 3-hop filter
      case ("similarity", Some(c)) =>
        (if (graph.isEmpty) snapshot.get else None) match {
          case Some(snap) =>
            collab.snapshot += 1
            snap.collab(c, n).map { case (id, s) =>
              s"""{"product_id":$id,"score":$s}""" }
          case None =>
            collab.dataFrame += 1
            rows(RecsApi.recs(spark, dir, strategy, cid, n))
        }
      // (-score, product_id) is a total order: the first n of the top-10
      // are the top-n
      case _ => held.getOrElseUpdate(strategy,
        rows(RecsApi.recs(spark, dir, strategy, None, 10))).take(n)
    }
    (200, s"""{"strategy":${jStr(strategy)},"customer_id":${
      cid.map(_.toString).getOrElse("null")},"recommendations":${
      items.mkString("[", ",", "]")}}""")
  }

  // ---- /customers/{id}/... ----

  /** The blended engine's rows (`topN` = `Some(n)`, n clamped, for
    * recommendations; `None` for the breakdown): from the snapshot, else
    * by the DataFrame path, which releases its per-request caches after
    * collect — a long-lived server must not accumulate one entry per
    * request.
    *
    * @throws IllegalArgumentException for an unknown customer (P5) */
  private def engineRows(id: Long, topN: Option[Int]): Array[Row] =
    snapshot.get match {
      case Some(s) => blended.snapshot += 1; s.rows(id, topN)
      case None =>
        blended.dataFrame += 1; Engine.frameRows(spark, g, id, topN)
    }

  private def recommendations(id: Long, topN: Int): (Int, String) =
    try {
      val items = engineRows(id, Some(RecsApi.clampTopN(topN))).map { r =>
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

  private def strategies(id: Long, topN: Int): (Int, String) =
    try {
      val by = engineRows(id, None).groupBy(_.getString(0))
      // the reference's breakdown dict always carries every strategy
      // key, empty lists included (recommendation.py:70-89); seedless
      // customers get the single global_pagerank key instead (:79)
      val keys =
        if (by.contains("global_pagerank")) Seq("global_pagerank")
        else Seq("co_occurrence", "similarity", "personalized_pagerank")
      val strategies = keys.map { name =>
        jStr(name) + ":" + by.getOrElse(name, Array.empty)
          .take(RecsApi.clampTopN(topN)).map { r =>
            s"""{"product_id":${r.getLong(1)},"score":${r.getDouble(2)}}"""
          }.mkString("[", ",", "]")
      }.mkString("{", ",", "}")
      (200, s"""{"customer_id":$id,"strategies":$strategies}""")
    } catch {
      case e: IllegalArgumentException => (404, detail(e.getMessage))
    }

  // ---- held serving inputs ----

  /** The blended engine's inputs and, on a graph read from `dir`, the
    * 3-hop filter's, read on the first request that needs them; `None`
    * inside past `localRows`. */
  private val snapshot =
    new HttpApi.Held(Engine.serveSnapshot(spark, g, localRows))
  private val blended, collab = new HttpApi.Answered

  // ---- /metrics ----

  private val stats = HttpApi.Routes.map(_ -> new HttpApi.RouteStats).toMap

  /** Every route's counters, `other` last, as of the request before
    * this one (a request is counted once it is answered), then the
    * serving side. */
  private def metricsJson: String = {
    val snapshotRows =
      snapshot.peek.flatten.map(_.size.toString).getOrElse("null")
    HttpApi.Routes.map(r => jStr(r) + ":" + stats(r).json)
      .mkString("""{"routes":{""", ",", "},") +
      s""""serving":{"snapshot_rows":$snapshotRows,""" +
      s""""blended":${blended.json},"collab":${collab.json}}}"""
  }

  // null executor = the dispatcher thread handles every exchange in
  // sequence, so it is the only reader and writer of the held lists and
  // the counters
  server.createContext("/", { (ex: HttpExchange) =>
    val t0 = System.nanoTime()
    val (name, answer) = route(ex)
    val (status, body) =
      try answer()
      catch { case e: Throwable => HttpApi.failure(e) }
    try send(ex, status, body)
    finally stats(name).record(status, (System.nanoTime() - t0) / 1e6)
  })
}

object HttpApi {
  // ---- JSON (hand-rolled: values are numbers, strings, null only) ----

  /** `s` as a JSON string literal: quotes, backslashes and every control
    * character (< 0x20) escaped. The one JSON string escaper of the
    * server, `graft.Bench`'s summary lines and `graft.Verify`'s oracle
    * dump, where a raw tab or CR would make `json.load` fail. */
  private[graft] def jStr(s: String): String =
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

  /** A value made on its first `get` and held from then on; `peek` reads
    * it without making it. A make that throws is tried again. */
  private final class Held[A](make: => A) {
    private var value: Option[A] = None
    def get: A = value.getOrElse { val a = make; value = Some(a); a }
    def peek: Option[A] = value
  }

  // ---- /metrics ----

  /** Requests of one kind answered from a held snapshot and by the
    * DataFrame path. */
  private final class Answered {
    var snapshot = 0L
    var dataFrame = 0L
    def json: String = s"""{"snapshot":$snapshot,"dataframe":$dataFrame}"""
  }

  /** The key of every path that names no route. */
  private val Other = "other"

  /** The keys of `/metrics`, in the order it reports them. */
  private val Routes = Seq("/", "/health", "/recs",
    "/customers/{id}/recommendations", "/customers/{id}/strategies",
    "/metrics", Other)

  /** Upper bounds of the latency buckets, in ms: 1, 2, 4, … 32768. */
  private val LatencyBoundsMs = Seq.tabulate(16)(1L << _)

  /** One route's counters: requests, answers by status class (the
    * server answers 200, 400, 404 and 500 only), and latency, counted in
    * the first bucket whose bound it does not exceed, or in `+Inf`. */
  private final class RouteStats {
    private var requests = 0L
    private val classes = new Array[Long](6)
    private val latency = new Array[Long](LatencyBoundsMs.size + 1)

    def record(status: Int, ms: Double): Unit = {
      requests += 1
      classes(status / 100) += 1
      val i = LatencyBoundsMs.indexWhere(ms <= _)
      latency(if (i < 0) LatencyBoundsMs.size else i) += 1
    }

    def json: String = {
      val status = Seq(2, 4, 5).map(c => s""""${c}xx":${classes(c)}""")
      val buckets = (LatencyBoundsMs.map(_.toString) :+ "+Inf").zip(latency)
        .map { case (b, n) => s""""$b":$n""" }
      s"""{"requests":$requests,"status":${status.mkString("{", ",", "}")},""" +
        s""""latency_ms":${buckets.mkString("{", ",", "}")}}"""
    }
  }
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
