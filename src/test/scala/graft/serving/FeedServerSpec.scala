package graft.serving

import com.fasterxml.jackson.databind.ObjectMapper
import graft.SparkSpec
import graft.domain.Fixtures
import graft.streaming.Ingest

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

/** Drives the real HTTP surface end-to-end: JDK HttpClient against the
  * running [[FeedServer]], store seeded through the actual ingest path. */
class FeedServerSpec extends SparkSpec {

  private val mapper = new ObjectMapper()
  private val client = HttpClient.newHttpClient()

  private val secret = "spec-shared-secret".getBytes("UTF-8")
  private val cfg = FeedServer.Config(
    serviceDid = "did:web:feeds.example.com",
    hostname = "feeds.example.com",
    publisherDid = "did:plc:publisher",
    keyResolver = Auth.StaticKeyResolver(Map("did:plc:alice" -> secret)))

  private def get(port: Int, path: String, auth: Option[String] = None)
      : (Int, com.fasterxml.jackson.databind.JsonNode) = {
    val b = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path")).GET()
    auth.foreach(t => b.header("Authorization", s"Bearer $t"))
    val resp = client.send(b.build(), HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), mapper.readTree(resp.body()))
  }

  private def feedUri(recordName: String) =
    s"at://${cfg.publisherDid}/app.bsky.feed.generator/$recordName"

  private def withServer(conditions: Seq[graft.model.Condition])
      (body: Int => Unit): Unit = {
    val s = spark
    import s.implicits._
    val store = Ingest.processBatch(spark, Ingest.emptyStore(spark),
      Fixtures.posts.toDF(), conditions, Some(Fixtures.profiles.toDF()))
      .cache()
    val server = new FeedServer(spark, () => store, () => conditions, cfg)
    val port = server.start()
    try body(port) finally server.stop()
  }

  test("start() actually latched sun.net.httpserver.nodelay (the ~40 ms Nagle fix)") {
    // this JVM opens jdk.httpserver internals (build.sbt add-opens), so
    // the reflective check must be conclusive — Some(true). A None here
    // means the verification silently stopped working; Some(false) means
    // a server class loaded before FeedServer.start() set the property
    // and every response pays the Nagle stall the flag exists to kill.
    withServer(Seq(Fixtures.cond(key = "feed1"))) { _ =>
      assert(FeedServer.noDelayStatus() == Some(true),
        "ServerConfig.noDelay must be verifiably latched in the test JVM")
    }
  }

  test("getFeedSkeleton serves pages with cursors over HTTP; unknown feed is 400") {
    val conditions = Seq(Fixtures.cond(key = "f1"))
    withServer(conditions) { port =>
      // sub-1 limits are a lexicon violation → 400 InvalidRequest; they
      // used to reach the engine and 500 (df.limit(-1) AnalysisException)
      // or leak the native operator's internal require message
      val (stBad, _) = get(port, s"/xrpc/app.bsky.feed.getFeedSkeleton?feed=${feedUri("f1")}&limit=0")
      assert(stBad == 400)
      val (stNeg, _) = get(port, s"/xrpc/app.bsky.feed.getFeedSkeleton?feed=${feedUri("f1")}&limit=-1")
      assert(stNeg == 400)
      val (st1, p1) = get(port, s"/xrpc/app.bsky.feed.getFeedSkeleton?feed=${feedUri("f1")}&limit=2")
      assert(st1 == 200, p1.toString)
      assert(p1.get("feed").size() == 2)
      assert(p1.get("feed").get(0).get("post").asText().startsWith("at://"))
      val cursor = p1.get("cursor").asText()
      assert(cursor.contains("::"))

      // cursor walk: no overlap with page 1
      val enc = java.net.URLEncoder.encode(cursor, "UTF-8")
      val (st2, p2) = get(port,
        s"/xrpc/app.bsky.feed.getFeedSkeleton?feed=${feedUri("f1")}&limit=50&cursor=$enc")
      assert(st2 == 200, p2.toString)
      val page1 = (0 until p1.get("feed").size()).map(p1.get("feed").get(_).get("post").asText()).toSet
      val page2 = (0 until p2.get("feed").size()).map(p2.get("feed").get(_).get("post").asText()).toSet
      assert(page1.intersect(page2).isEmpty)

      val (st3, e3) = get(port, s"/xrpc/app.bsky.feed.getFeedSkeleton?feed=${feedUri("nope")}")
      assert(st3 == 400 && e3.get("error").asText() == "UnsupportedAlgorithm")

      val (st4, e4) = get(port,
        s"/xrpc/app.bsky.feed.getFeedSkeleton?feed=${feedUri("f1")}&cursor=garbage")
      assert(st4 == 400 && e4.get("error").asText() == "InvalidRequest", e4.toString)
    }
  }

  test("private feeds gate on a verified service JWT (auth.ts semantics)") {
    val conditions = Seq(Fixtures.cond(key = "p1", privateFeed = Seq("did:plc:alice")))
    withServer(conditions) { port =>
      val path = s"/xrpc/app.bsky.feed.getFeedSkeleton?feed=${feedUri("p1")}"
      // no token → 401 AuthRequired
      val (st1, e1) = get(port, path)
      assert(st1 == 401 && e1.get("error").asText() == "AuthRequired")
      // valid token for an allowlisted DID → page served
      val good = Auth.signHs256("did:plc:alice", cfg.serviceDid,
        System.currentTimeMillis() / 1000 + 600, secret)
      val (st2, p2) = get(port, path, Some(good))
      assert(st2 == 200 && p2.get("feed").size() > 0, p2.toString)
      // tampered signature → 401
      val (st3, _) = get(port, path, Some(TamperedToken(good)))
      assert(st3 == 401)
      // expired token → 401
      val expired = Auth.signHs256("did:plc:alice", cfg.serviceDid,
        System.currentTimeMillis() / 1000 - 10, secret)
      assert(get(port, path, Some(expired))._1 == 401)
      // wrong audience → 401
      val wrongAud = Auth.signHs256("did:plc:alice", "did:web:other",
        System.currentTimeMillis() / 1000 + 600, secret)
      assert(get(port, path, Some(wrongAud))._1 == 401)
      // verified but NOT allowlisted DID → empty feed (the gate, not auth)
      val eve = Auth.signHs256("did:plc:eve", cfg.serviceDid,
        System.currentTimeMillis() / 1000 + 600, secret)
      // eve's key is unresolvable → still 401 (resolver is the identity source)
      assert(get(port, path, Some(eve))._1 == 401)
    }
  }

  test("production wiring: private feed over ES256K with a directory-resolved key " +
      "(server.ts:39-43 + auth.ts)") {
    // the reference's full auth stack: DidResolver(plcUrl) + MemoryCache +
    // verifyJwt(ES256K) — here a local directory stub, the TTL-cached
    // resolver, the built-in secp256k1 verify, and the real feed server
    val priv = BigInt("1B1D89A8C6FA8EB4A9E6F0D1B0313F6D0E3AD38C6ED93D1E2CFFEF21A9FB6F0C", 16)
    val requester = "did:plc:alice"
    val multibase = DidResolver.encodeMultibaseKey(
      Secp256k1.compress(Secp256k1.mul(Secp256k1.G, priv).get))
    val directory = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    directory.createContext("/" + requester, ex => {
      val body =
        s"""{"id":"$requester","verificationMethod":[{"id":"$requester#atproto",
           |"type":"Multikey","publicKeyMultibase":"$multibase"}]}""".stripMargin
          .getBytes("UTF-8")
      ex.sendResponseHeaders(200, body.length)
      ex.getResponseBody.write(body); ex.close()
    })
    directory.start()
    try {
      val plcUrl = s"http://127.0.0.1:${directory.getAddress.getPort}"
      val wired = cfg.copy(
        // the fixture directory IS loopback — the fetcher's private-range
        // resolve guard (spec'd in DidResolverSpec) is off for it
        keyResolver = new DidResolver(
          new DidResolver.HttpFetcher(guardPrivateRanges = false), plcUrl = plcUrl),
        verifier = Auth.DefaultVerifier)
      val conditions = Seq(Fixtures.cond(key = "p1", privateFeed = Seq(requester)))
      val s = spark
      import s.implicits._
      val store = Ingest.processBatch(spark, Ingest.emptyStore(spark),
        Fixtures.posts.toDF(), conditions, Some(Fixtures.profiles.toDF())).cache()
      val server = new FeedServer(spark, () => store, () => conditions, wired)
      val port = server.start()
      try {
        val path = s"/xrpc/app.bsky.feed.getFeedSkeleton?feed=${feedUri("p1")}"
        val token = Auth.signEs256k(requester, cfg.serviceDid,
          System.currentTimeMillis() / 1000 + 600, priv)
        val (st, page) = get(port, path, Some(token))
        assert(st == 200 && page.get("feed").size() > 0, page.toString)
        // an unresolvable issuer (not in the directory) still 401s
        val ghost = Auth.signEs256k("did:plc:ghost", cfg.serviceDid,
          System.currentTimeMillis() / 1000 + 600, priv)
        assert(get(port, path, Some(ghost))._1 == 401)
      } finally server.stop()
    } finally directory.stop(0)
  }

  test("describeFeedGenerator and /.well-known/did.json match the reference shapes") {
    val conditions = Seq(Fixtures.cond(key = "f1"), Fixtures.cond(key = "f2"))
    withServer(conditions) { port =>
      val (st1, d) = get(port, "/xrpc/app.bsky.feed.describeFeedGenerator")
      assert(st1 == 200 && d.get("did").asText() == cfg.serviceDid)
      val uris = (0 until d.get("feeds").size()).map(d.get("feeds").get(_).get("uri").asText())
      assert(uris.toSet == Set(feedUri("f1"), feedUri("f2")))

      val (st2, w) = get(port, "/.well-known/did.json")
      assert(st2 == 200 && w.get("id").asText() == cfg.serviceDid)
      assert(w.get("service").get(0).get("type").asText() == "BskyFeedGenerator")
      assert(w.get("service").get(0).get("serviceEndpoint").asText() ==
        s"https://${cfg.hostname}")
    }
  }

  test("well-known 404s when the service DID does not match the hostname (well-known.ts:8-10)") {
    val other = cfg.copy(serviceDid = "did:web:elsewhere.example.org")
    val server = new FeedServer(spark, () => Ingest.emptyStore(spark), () => Nil, other)
    val port = server.start()
    try assert(get(port, "/.well-known/did.json")._1 == 404)
    finally server.stop()
  }

  // ---- admin CRUD (databaseUtil.ts:9-192) ----

  private def post(port: Int, path: String, body: String, passkey: Option[String])
      : (Int, com.fasterxml.jackson.databind.JsonNode) = {
    val b = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
      .POST(HttpRequest.BodyPublishers.ofString(body))
      .header("Content-Type", "application/json")
    passkey.foreach(b.header("x-starrtsky-webpasskey", _))
    val resp = client.send(b.build(), HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), mapper.readTree(resp.body()))
  }

  private def setQueryBody(key: String, recordName: String,
      inputRegex: String = "spark", invertRegex: String = "",
      refresh: String = "0", initPost: String = "100",
      limitCount: String = "2000", extra: Map[String, String] = Map.empty): String = {
    val n = mapper.createObjectNode()
    n.put("key", key).put("recordName", recordName).put("query", "spark")
      .put("inputRegex", inputRegex).put("invertRegex", invertRegex)
      .put("refresh", refresh).put("initPost", initPost)
      .put("limitCount", limitCount)
    extra.foreach { case (k, v) => n.put(k, v) }
    n.toString
  }

  private def withAdminServer(control: graft.model.ControlPlane,
      passkey: Option[String] = Some("hunter2"))
      (body: (Int, () => Set[String]) => Unit): Unit = {
    val s = spark
    import s.implicits._
    var store = Ingest.processBatch(spark, Ingest.emptyStore(spark),
      Fixtures.posts.toDF(), control.conditions, Some(Fixtures.profiles.toDF()))
      .cache()
    val deletePosts: String => Unit = key => {
      store = store.filter(org.apache.spark.sql.functions.col("key") =!= key).cache()
    }
    val keysInStore = () => store.select("key").distinct()
      .collect().map(_.getString(0)).toSet
    val server = new FeedServer(spark, () => store, () => control.conditions, cfg,
      admin = Some(FeedServer.Admin(control, deletePosts, passkey)))
    val port = server.start()
    try body(port, keysInStore) finally server.stop()
  }

  test("admin CRUD lifecycle: create, read, full-replace quirk, delete (databaseUtil.ts:9-192)") {
    val control = new graft.model.ControlPlane(Seq(Fixtures.cond(key = "f1")))
    control.setRecordCount("f1", 42L)
    withAdminServer(control) { (port, keysInStore) =>
      val pk = Some("hunter2")
      assert(keysInStore().contains("f1")) // seeded through real ingest

      // create a second feed
      val (st1, r1) = post(port, "/setQuery",
        setQueryBody("f2", "f2", extra = Map("feedName" -> "Feed Two")), pk)
      assert(st1 == 200 && r1.get("result").asText() == "OK", r1.toString)
      assert(control.get("f2").exists(_.recordName == "f2"))

      // read it back in wire shape
      val (st2, r2) = post(port, "/getQuery", """{"key":"f2"}""", pk)
      assert(st2 == 200 && r2.get("result").asText() == "OK")
      assert(r2.get("recordName").asText() == "f2")
      assert(r2.get("labelDisable").asText() == "false") // string-bool
      assert(r2.get("feedName").asText() == "Feed Two")
      assert(r2.get("recordCount").asLong() == 0L)
      assert(r2.get("lastExecTime").isNull, "no cycle has timed a fresh row")
      assert(r2.get("queryEngineVersion").asText() == FeedServer.EngineVersion)

      // an ingest cycle publishes its metrics onto the conditions row and
      // getQuery reports them (schema.ts:36, subscription.ts:370-378)
      val metrics = new graft.model.ConditionMetrics
      metrics.record(control.conditions.filter(_.key == "f2"),
        Map("f2" -> 3L), execMs = 17L)
      metrics.publishTo(control)
      val (st2b, r2b) = post(port, "/getQuery", """{"key":"f2"}""", pk)
      assert(st2b == 200 && r2b.get("lastExecTime").asText() == "17ms")
      assert(r2b.get("recordCount").asLong() == 3L)

      // full-replace quirk: setQuery on f1 resets recordCount to 0 while
      // the key's POSTS stay in the store (databaseUtil.ts:77-108)
      assert(control.recordCount("f1") == 42L)
      val (st3, r3) = post(port, "/setQuery",
        setQueryBody("f1", "f1", inputRegex = "vector"), pk)
      assert(st3 == 200 && r3.get("result").asText() == "OK")
      assert(control.recordCount("f1") == 0L, "recordCount must reset on replace")
      assert(keysInStore().contains("f1"), "posts must be RETAINED on replace")
      assert(control.get("f1").exists(_.inputRegex == "vector"))

      // deleteCondition drops the row AND the posts
      val (st4, r4) = post(port, "/deleteCondition", """{"key":"f1"}""", pk)
      assert(st4 == 200 && r4.get("result").asText() == "OK")
      assert(control.get("f1").isEmpty)
      assert(!keysInStore().contains("f1"), "posts must be deleted with the condition")

      // and getQuery now reports NOT_FOUND (HTTP 200, reference shape)
      val (st5, r5) = post(port, "/getQuery", """{"key":"f1"}""", pk)
      assert(st5 == 200 && r5.get("result").asText() == "NOT_FOUND")
    }
  }

  test("admin endpoints reject a wrong or missing passkey with 401") {
    val control = new graft.model.ControlPlane(Seq(Fixtures.cond(key = "f1")))
    withAdminServer(control) { (port, keysInStore) =>
      assert(post(port, "/setQuery", setQueryBody("x", "x"), Some("wrong"))._1 == 401)
      assert(post(port, "/setQuery", setQueryBody("x", "x"), None)._1 == 401)
      assert(post(port, "/getQuery", """{"key":"f1"}""", Some("wrong"))._1 == 401)
      assert(post(port, "/deleteCondition", """{"key":"f1"}""", None)._1 == 401)
      assert(control.get("f1").nonEmpty && keysInStore().contains("f1")) // nothing mutated
      // unset passkey (None) leaves the endpoints open, like an unset
      // EDIT_WEB_PASSKEY — proven on a second server instance
    }
    val open = new graft.model.ControlPlane(Nil)
    withAdminServer(open, passkey = None) { (port, _) =>
      assert(post(port, "/setQuery", setQueryBody("y", "y"), None)._1 == 200)
      assert(open.get("y").nonEmpty)
    }
  }

  test("malformed JSON on admin endpoints is a 400 InvalidRequest, not a 500") {
    val control = new graft.model.ControlPlane(Nil)
    withAdminServer(control) { (port, _) =>
      val pk = Some("hunter2")
      Seq("/setQuery", "/getQuery", "/deleteCondition").foreach { path =>
        val (st, r) = post(port, path, """{"key": oops""", pk)
        assert(st == 400, s"$path returned $st for malformed JSON")
        assert(r.get("error").asText() == "InvalidRequest", r.toString)
      }
      assert(control.conditions.isEmpty) // nothing mutated
    }
  }

  test("setQuery validation: reference result codes in reference order (databaseUtil.ts:17-75)") {
    val control = new graft.model.ControlPlane(Nil)
    withAdminServer(control) { (port, _) =>
      val pk = Some("hunter2")
      def code(body: String): (Int, String) = {
        val (st, r) = post(port, "/setQuery", body, pk)
        (st, r.get("result").asText())
      }
      assert(code(setQueryBody("k", "k", inputRegex = "[unclosed")) == (500, "INPUT_REGEX_ERROR"))
      assert(code(setQueryBody("k", "k", invertRegex = "(?<bad")) == (500, "INVERT_REGEX_ERROR"))
      assert(code(setQueryBody("k", "UPPER")) == (500, "RECORDNAME_NOTALPHA"))
      assert(code(setQueryBody("k", "sixteen-chars-xx")) == (500, "RECORDNAME_NOTALPHA"))
      assert(code(setQueryBody("k", "k", refresh = "soon")) == (500, "NOT_NUMBER_REFRESH"))
      assert(code(setQueryBody("k", "k", initPost = "many")) == (500, "NOT_NUMBER_INITPOST"))
      assert(code(setQueryBody("k", "k", limitCount = "lots")) == (500, "NOT_NUMBER_LIMITCOUNT"))
      // JS-Number parity (the reference gates with isNaN(Number(x)),
      // databaseUtil.ts:49): the literal "NaN" and Java-only syntaxes are
      // NaN there and must fail HERE too, not silently store 0
      assert(code(setQueryBody("k", "k", initPost = "NaN")) == (500, "NOT_NUMBER_INITPOST"))
      assert(code(setQueryBody("k", "k", limitCount = "5d")) == (500, "NOT_NUMBER_LIMITCOUNT"))
      assert(code(setQueryBody("k", "k", limitCount = "0x1p3")) == (500, "NOT_NUMBER_LIMITCOUNT"))
      assert(code(setQueryBody("k", "k",
        extra = Map("profileMatch" -> "term::[bad"))) == (500, "PROFILE_MATCH_REGEX_ERROR"))
      // r19 dialect fence AT THE REAL CRUD BOUNDARY: Java-compilable
      // constructs the reference's non-'u' RegExp rejects (possessive)
      // or reads as literal letters (\p, \Q) answer the reference's own
      // regex-error codes with the construct named
      assert(code(setQueryBody("k", "k", inputRegex = "a++")) == (500, "INPUT_REGEX_ERROR"))
      assert(code(setQueryBody("k", "k", inputRegex = "\\p{L}+")) == (500, "INPUT_REGEX_ERROR"))
      assert(code(setQueryBody("k", "k", invertRegex = "\\Qx\\E")) == (500, "INVERT_REGEX_ERROR"))
      assert(code(setQueryBody("k", "k",
        extra = Map("profileMatch" -> "term::a++"))) == (500, "PROFILE_MATCH_REGEX_ERROR"))
      assert(control.conditions.isEmpty) // nothing persisted on any failure
      // negative refresh is allowed by the reference's /^-?\d+$/
      assert(code(setQueryBody("k", "k", refresh = "-1")) == (200, "OK"))
      // out-of-Int-range digits: Number() accepts them on the reference —
      // a saturating parse stores them instead of crashing past validation
      assert(code(setQueryBody("k2", "k2", refresh = "99999999999")) == (200, "OK"))
      assert(control.conditions.find(_.key == "k2").get.refresh == Int.MaxValue)
    }
  }
}
