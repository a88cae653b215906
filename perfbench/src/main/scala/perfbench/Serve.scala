package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Duration

import scala.collection.mutable

import org.apache.spark.sql.functions.col

import graft.model.BuilderCache
import graft.rec.{Engine, RecsApi}
import graft.serve.HttpApi

/** `serve`: one closed-loop client against an in-process `HttpApi`.
  * Requests mix the three `/recs` strategies with the blended
  * `/customers/{id}/recommendations` and `/customers/{id}/strategies`
  * routes. Customer ids come from a seeded pool larger than the engine's
  * per-customer PageRank memo; fixed positions repeat an earlier id, so
  * the memo is hit at a fixed rate. A fixed share of ids does not exist
  * (404 by contract). The mix is a coverage mix, not a traffic model:
  * it puts every route and both memo outcomes into each pass in the same
  * proportions, so that passes and runs compare. */
final class Serve(ctx: Ctx) extends Workload(ctx) {
  import Serve._

  private var api: HttpApi = _
  private var base = ""
  private val client = HttpClient.newBuilder()
    .connectTimeout(Duration.ofSeconds(10)).build()
  private var stream: IndexedSeq[Req] = IndexedSeq.empty
  private var next = 0
  private var anchors: Seq[Req] = Nil
  /** First body seen for each path; a later answer must equal it. */
  private val bodies = mutable.Map.empty[String, String]
  private val sent = mutable.ArrayBuffer.empty[Req]
  /** `engine.pprRanks` entries before and after each seeded request. */
  private val ppr = mutable.ArrayBuffer.empty[(Int, Int)]

  override def prepare(): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val customers = spark.read.parquet(s"${ctx.dataDir}/customer.parquet")
      .select(col("c_custkey")).as[Long].collect().sorted
    // every customer of the bundled data has orders: none takes the
    // seedless global fallback
    val seeded = customers
    anchors = Seq(
      Req("recs", "/recs?strategy=co_occurrence&limit=10", known = true),
      Req("recs", s"/recs?strategy=similarity&customer_id=${seeded.head}&limit=10", known = true),
      Req("recommendations", s"/customers/${seeded.head}/recommendations?top_n=3", known = true),
      Req("strategies", s"/customers/${seeded.head}/strategies?top_n=3", known = true))

    // a fixed route mix per ten requests: three /recs (one per strategy),
    // three blended recommendations, three breakdowns, one unknown id. Ids
    // come from a seeded permutation of customers; the repeat positions reuse
    // an id the same route answered before, so every ten requests meet the
    // per-customer memos the same number of times
    val rng = scala.util.Random.javaRandomToRandom(ctx.rng)
    val pool = rng.shuffle(seeded.toSeq).take(PoolSize).toIndexedSeq
    var nextFresh = 0
    val seen = mutable.Map.empty[String, mutable.ArrayBuffer[Long]]
    def id(route: String, repeat: Boolean): Long = {
      val ids = seen.getOrElseUpdate(route, mutable.ArrayBuffer.empty)
      if (repeat && ids.nonEmpty) ids(rng.nextInt(ids.size))
      else { val c = pool(nextFresh % pool.size); nextFresh += 1; ids += c; c }
    }
    def unknown(): Long = customers.last + 1 + rng.nextInt(1000000)
    stream = (0 until StreamSize).map { i =>
      (i % 10) match {
        case 0 => Req("recs", "/recs?strategy=co_occurrence&limit=10", true)
        case 5 => Req("recs", "/recs?strategy=pagerank&limit=10", true)
        case 3 => Req("recs",
          s"/recs?strategy=similarity&customer_id=${id("similarity", i % 20 == 13)}&limit=10", true)
        case 1 | 4 | 6 => Req("recommendations",
          s"/customers/${id("recommendations", i % 10 == 4)}/recommendations?top_n=3", true,
          seeded = true)
        case 2 | 7 | 8 => Req("strategies",
          s"/customers/${id("strategies", i % 10 == 7)}/strategies?top_n=3", true)
        case _ =>
          val route = if (i % 20 == 9) "recommendations" else "strategies"
          Req(route, s"/customers/${unknown()}/$route?top_n=3", known = false)
      }
    }
  }

  private def get(path: String): HttpResponse[String] =
    client.send(HttpRequest.newBuilder(URI.create(base + path))
      .timeout(Duration.ofSeconds(RequestTimeoutS)).GET().build(),
      HttpResponse.BodyHandlers.ofString())

  /** 200 for a known id, 404 for an unknown one; anything else, a
    * timeout or a dropped connection is a failure. */
  private def expectStatus(r: Req, resp: HttpResponse[String]): Boolean =
    resp.statusCode == (if (r.known) 200 else 404)

  /** The server is up and answering; the builders' first touch is left
    * to the cold pass. */
  def setup(): Unit = {
    api = new HttpApi(ctx.spark, ctx.dataDir)
    base = s"http://127.0.0.1:${api.start()}"
    require(get("/health").statusCode == 200, "server not healthy")
  }

  override def teardown(): Unit = if (api != null) { api.stop(); api = null }

  private def pprEntries: Int =
    BuilderCache.list(ctx.spark).count(_.startsWith("engine.pprRanks"))

  /** Every pass is the next ten requests of the stream, one full round
    * of the route mix, so the cold pass (which also pays the builders'
    * first touch) and the warm ones carry the same requests. */
  def pass(p: Int): Unit = (0 until PassSize).foreach { _ =>
    val r = stream(next % stream.size)
    next += 1
    val before = if (r.seeded) pprEntries else 0
    ctx.op(p, r.route, "request") {
      val resp = get(r.path)
      val ok = expectStatus(r, resp)
      if (!ok) throw new IllegalStateException(s"${r.path}: status ${resp.statusCode}")
      if (resp.statusCode == 200) bodies.get(r.path) match {
        case Some(b) =>
          ctx.checks += 1
          if (b != resp.body) ctx.fail(s"${r.path}: answer changed between requests")
        case None => bodies(r.path) = resp.body
      }
      ok
    }
    if (r.seeded) ppr += ((before, pprEntries))
    sent += r
  }

  /** Fixed anchor requests must answer what was recorded for this data;
    * repeated requests in the window must have answered alike. */
  def verify(): Unit = anchors.foreach { r =>
    try {
      val resp = get(r.path)
      ctx.check(s"serve${r.path}", s"${resp.statusCode}:${Serve.digest(resp.body)}")
    } catch { case e: Throwable => ctx.checks += 1; ctx.fail(s"${r.path}: ${Main.describe(e)}") }
  }

  override def detail(e2e: Map[String, Double], measured: Seq[Op]): Map[String, Double] = Map(
    "serve_p50_ms" -> e2e("op_p50_ms"),
    "serve_p90_ms" -> e2e("op_p90_ms"),
    "serve_rps" -> e2e("ops_per_s"))

  private val direct = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
  private val httpSelf = mutable.ArrayBuffer.empty[Double]
  private var directConstructMs = 0.0

  /** One request made straight against the `rec` layer, with no HTTP in
    * between: `RecsApi.recs(…).collect()`, `Engine.recommendRows` or
    * `Engine.breakdownRows`. Returns its wall and, for `/recs`, the part
    * spent before `collect`, both in ms. */
  private def directCall(g: Engine.ProductGraph, r: Req): (Double, Double) = {
    val t0 = System.nanoTime()
    val uri = URI.create(r.path)
    val q = Option(uri.getQuery).getOrElse("").split("&").filter(_.contains("="))
      .map { kv => val Array(k, v) = kv.split("=", 2); k -> v }.toMap
    var constructMs = 0.0
    r.route match {
      case "recs" =>
        val df = RecsApi.recs(ctx.spark, ctx.dataDir, q("strategy"),
          q.get("customer_id").map(_.toLong), q.get("limit").map(_.toInt).getOrElse(10))
        constructMs = (System.nanoTime() - t0) / 1e6
        df.collect()
      case "recommendations" =>
        Engine.recommendRows(ctx.spark, g, uri.getPath.split("/")(2).toLong,
          q.get("top_n").map(_.toInt).getOrElse(3))
      case _ => Engine.breakdownRows(ctx.spark, g, uri.getPath.split("/")(2).toLong)
    }
    ((System.nanoTime() - t0) / 1e6, constructMs)
  }

  /** The known requests of the last measured pass again, each timed as a
    * pair in one cache state: an untimed direct call first, so that the
    * memos, plan and codegen caches the request needs are in place, then
    * the request over HTTP and the same call straight to the `rec` layer,
    * both timed. The difference is the HTTP layer's own time. A pair
    * during which the builder registry changed did not see one state on
    * both sides and is left out; pairing stops once the run is near its
    * time limit. */
  override def tracedExtras(): Map[String, Double] = {
    val g = Engine.fromOrders(ctx.spark, ctx.dataDir)
    val uptime = java.lang.management.ManagementFactory.getRuntimeMXBean
    sent.takeRight(PassSize).filter(_.known)
      .takeWhile(_ => uptime.getUptime < PairDeadlineMs).foreach { r =>
      try {
        directCall(g, r)
        val entries = BuilderCache.list(ctx.spark).toSet
        val t0 = System.nanoTime()
        val resp = get(r.path)
        val httpMs = (System.nanoTime() - t0) / 1e6
        if (resp.statusCode != 200) throw new IllegalStateException(s"status ${resp.statusCode}")
        val (ms, constructMs) = directCall(g, r)
        if (BuilderCache.list(ctx.spark).toSet == entries) {
          direct.getOrElseUpdate(r.route, mutable.ArrayBuffer.empty) += ms
          directConstructMs += constructMs
          httpSelf += httpMs - ms
        }
      } catch { case e: Exception =>
        ctx.checks += 1; ctx.fail(s"direct ${r.path}: ${Main.describe(e)}") }
    }
    Map(
      "rec.recommend_ms" -> Main.median(direct.getOrElse("recommendations", Nil).toSeq),
      "rec.breakdown_ms" -> Main.median(direct.getOrElse("strategies", Nil).toSeq),
      "rec.recs_ms" -> Main.median(direct.getOrElse("recs", Nil).toSeq),
      "operators.construct_s" -> directConstructMs / 1000)
  }

  override def layers(traced: Seq[Op], at: Attribution): Map[String, Double] = {
    def route(n: String) = Main.median(traced.filter(_.name == n).map(_.ms))
    val grew = ppr.count { case (b, a) => a > b }
    Map(
      "rec.jobs_per_request" -> traced.map(o => at.jobs(o.id).size).sum.toDouble / traced.size,
      "rec.ppr_hit_frac" -> (if (ppr.isEmpty) 0.0 else 1.0 - grew.toDouble / ppr.size),
      "rec.ppr_evictions" -> ppr.count { case (b, a) => a < b }.toDouble,
      "serve.http_self_ms" -> Main.median(httpSelf.toSeq),
      "serve.route.recs_ms" -> route("recs"),
      "serve.route.recommendations_ms" -> route("recommendations"),
      "serve.route.strategies_ms" -> route("strategies"))
  }
}

object Serve {
  final case class Req(route: String, path: String, known: Boolean, seeded: Boolean = false)

  /** Distinct customers the stream draws from: above the 64-entry
    * per-customer PageRank memo cap, so a long run evicts. */
  val PoolSize = 96
  val PassSize = 10
  val StreamSize = 5000
  val RequestTimeoutS = 30L
  /** JVM uptime after which the traced run makes no more direct/HTTP
    * pairs, so that it ends within its time limit on a slow box. */
  val PairDeadlineMs = 120000L

  def digest(s: String): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.digest(s.getBytes("UTF-8")).take(12).map(b => f"$b%02x").mkString
  }
}
