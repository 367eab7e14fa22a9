package graft.serving

import org.scalatest.funsuite.AnyFunSuite

import graft.serving.Secp256k1.{G, mul}

/** DidResolver: document URL mapping, multibase key decode, TTL caching,
  * and the full wire loop — an ES256K token verified with a key fetched
  * from a plc.directory-shaped HTTP stub (reference: server.ts:39-43 +
  * auth.ts:8-18). */
class DidResolverSpec extends AnyFunSuite {

  private val priv = BigInt("1B1D89A8C6FA8EB4A9E6F0D1B0313F6D0E3AD38C6ED93D1E2CFFEF21A9FB6F0C", 16)
  private val pubPoint = mul(G, priv).get
  private val multibase = DidResolver.encodeMultibaseKey(Secp256k1.compress(pubPoint))

  private def didDoc(did: String): String =
    s"""{"id":"$did","verificationMethod":[
       |  {"id":"$did#atproto","type":"Multikey","controller":"$did",
       |   "publicKeyMultibase":"$multibase"}]}""".stripMargin

  test("documentUrl maps did:plc to the directory and did:web to well-known") {
    val r = new DidResolver(_ => None, plcUrl = "https://plc.directory")
    assert(r.documentUrl("did:plc:abc123").contains("https://plc.directory/did:plc:abc123"))
    assert(r.documentUrl("did:web:feeds.example.com")
      .contains("https://feeds.example.com/.well-known/did.json"))
    assert(r.documentUrl("did:web:example.com:u:alice")
      .contains("https://example.com/u/alice/did.json"))
    assert(r.documentUrl("did:key:zQ3sh").isEmpty && r.documentUrl("bogus").isEmpty)
  }

  test("did:web rejects hosts/segments escaping the authority (percent-decode injection)") {
    val r = new DidResolver(_ => None, plcUrl = "https://plc.directory")
    // %2F in the host would bind a trusted domain's identity to an
    // attacker-chosen PATH on it; '@'/'?'/'#' would re-scope the authority
    assert(r.documentUrl("did:web:example.com%2Fuser%2Fmallory").isEmpty)
    assert(r.documentUrl("did:web:example.com%40evil.com").isEmpty)
    assert(r.documentUrl("did:web:example.com%3Fx").isEmpty)
    assert(r.documentUrl("did:web:example.com%23frag").isEmpty)
    // path segments stay inside the did:web segment charset — no raw
    // slashes, userinfo, or query metacharacters
    assert(r.documentUrl("did:web:example.com:u@x:alice").isEmpty)
    assert(r.documentUrl("did:web:example.com:u?q").isEmpty)
    // the port grammar itself is valid — but only a resolver that opted
    // into private hosts builds the URL; the auth-edge default refuses it
    assert(r.documentUrl("did:web:example.com%3A8443").isEmpty)
    val dev = new DidResolver(_ => None, allowPrivateHosts = true)
    assert(dev.documentUrl("did:web:example.com%3A8443")
      .contains("https://example.com:8443/.well-known/did.json"))
  }

  test("did:web SSRF guard: internal-looking hosts are refused at the auth edge") {
    val r = new DidResolver(_ => None)
    // iss is attacker-supplied, so did:web resolution must not be usable
    // as a confused-deputy probe of the deployment network
    assert(r.documentUrl("did:web:169.254.169.254").isEmpty)        // metadata IP
    assert(r.documentUrl("did:web:10.0.0.7").isEmpty)               // private IP
    assert(r.documentUrl("did:web:localhost").isEmpty)              // loopback name
    assert(r.documentUrl("did:web:internal-service").isEmpty)       // single label
    assert(r.documentUrl("did:web:foo.localhost").isEmpty)          // *.localhost
    assert(r.documentUrl("did:web:internal.corp%3A8443").isEmpty)   // odd port
    // public multi-label domains resolve as before
    assert(r.documentUrl("did:web:feeds.example.com")
      .contains("https://feeds.example.com/.well-known/did.json"))
    // the dev override admits all of them (grammar still enforced)
    val dev = new DidResolver(_ => None, allowPrivateHosts = true)
    assert(dev.documentUrl("did:web:localhost%3A8080")
      .contains("https://localhost:8080/.well-known/did.json"))
    assert(dev.documentUrl("did:web:example.com%2Fuser").isEmpty)
  }

  test("did:web rejects dot-segments and malformed percent-encoding in path segments") {
    val r = new DidResolver(_ => None, plcUrl = "https://plc.directory")
    // '.'/'..' segments would alias distinct DIDs to the same normalized
    // URL on the trusted host (did:web:example.com:x:.. ≡ did:web:example.com)
    assert(r.documentUrl("did:web:example.com:x:..").isEmpty)
    assert(r.documentUrl("did:web:example.com:.").isEmpty)
    assert(r.documentUrl("did:web:example.com:%2E%2E").isEmpty) // encoded ..
    assert(r.documentUrl("did:web:example.com:a%2Fb").isEmpty)  // encoded /
    // '%' only as a well-formed pct-triplet — a bare '%' must not reach
    // URI.create
    assert(r.documentUrl("did:web:example.com:a%b").isEmpty)
    assert(r.documentUrl("did:web:example.com:abc%").isEmpty)
    assert(r.documentUrl("did:web:example.com:%GG").isEmpty)
    // dots INSIDE a segment are legitimate (versioned paths)
    assert(r.documentUrl("did:web:example.com:v1.2:alice")
      .contains("https://example.com/v1.2/alice/did.json"))
    assert(r.documentUrl("did:web:example.com:a%20b")
      .contains("https://example.com/a%20b/did.json"))
  }

  test("did:web rejects hosts that are or contain dot-segments") {
    val r = new DidResolver(_ => None, plcUrl = "https://plc.directory")
    // the same normalization aliasing via the HOST portion: every
    // dot-separated label must be non-empty
    assert(r.documentUrl("did:web:..").isEmpty)
    assert(r.documentUrl("did:web:.").isEmpty)
    assert(r.documentUrl("did:web:%2E%2E").isEmpty)
    assert(r.documentUrl("did:web:..%3A8443").isEmpty)
    assert(r.documentUrl("did:web:.example.com").isEmpty)  // leading empty label
    assert(r.documentUrl("did:web:example..com").isEmpty)  // interior empty label
    assert(r.documentUrl("did:web:example.com.").isEmpty)  // trailing empty label
    // legitimate hosts still resolve
    assert(r.documentUrl("did:web:example.com")
      .contains("https://example.com/.well-known/did.json"))
    assert(new DidResolver(_ => None, allowPrivateHosts = true)
      .documentUrl("did:web:localhost%3A8080")
      .contains("https://localhost:8080/.well-known/did.json"))
  }

  test("base58 round-trips including leading zeros; bad alphabet rejects") {
    val cases = Seq(Array[Byte](0, 0, 1, 2, 3), Array[Byte](-1, -2), Array.empty[Byte])
    cases.foreach { b =>
      assert(DidResolver.base58Decode(DidResolver.base58Encode(b)).get.sameElements(b))
    }
    assert(DidResolver.base58Decode("0OIl").isEmpty) // excluded characters
  }

  test("multibase decode strips the secp256k1 multicodec tag and accepts bare points") {
    assert(DidResolver.decodeMultibaseKey(multibase).get
      .sameElements(Secp256k1.compress(pubPoint)))
    val bare = "z" + DidResolver.base58Encode(Secp256k1.compress(pubPoint))
    assert(DidResolver.decodeMultibaseKey(bare).get
      .sameElements(Secp256k1.compress(pubPoint)))
    assert(DidResolver.decodeMultibaseKey("m" + multibase.drop(1)).isEmpty) // wrong base
    assert(DidResolver.decodeMultibaseKey("z2j").isEmpty) // neither tagged nor a point
  }

  test("resolveKey fetches once, caches within TTL, refetches after expiry") {
    var now = 1000L
    var fetches = 0
    val did = "did:plc:cachetest"
    val r = new DidResolver(
      url => { fetches += 1; if (url.endsWith(did)) Some(didDoc(did)) else None },
      ttlMillis = 60000L, nowMillis = () => now)
    assert(r.resolveKey(did).isDefined && fetches == 1)
    assert(r.resolveKey(did).isDefined && fetches == 1) // cached
    now += 59999L
    assert(r.resolveKey(did).isDefined && fetches == 1) // still inside TTL
    now += 2L
    assert(r.resolveKey(did).isDefined && fetches == 2) // expired → refetch
  }

  test("cache is bounded: expired entries go first, then oldest") {
    var now = 1000L
    var fetches = 0
    val r = new DidResolver(
      url => { fetches += 1; Some(didDoc("did:plc:" + url.split(':').last)) },
      ttlMillis = 60000L, nowMillis = () => now, maxEntries = 2)
    (1 to 5).foreach { i => assert(r.resolveKey(s"did:plc:d$i").isDefined); now += 10 }
    assert(fetches == 5)
    // within TTL the two NEWEST survive eviction — d5 resolves from cache
    assert(r.resolveKey("did:plc:d5").isDefined && fetches == 5)
    // an evicted did refetches
    assert(r.resolveKey("did:plc:d1").isDefined && fetches == 6)
  }

  test("misses are negatively cached briefly, then retried (late-published key found)") {
    var now = 1000L
    var fetches = 0
    var available = false
    val did = "did:plc:latecomer"
    val r = new DidResolver(
      _ => { fetches += 1; if (available) Some(didDoc(did)) else None },
      nowMillis = () => now, negativeTtlMillis = 30000L)
    assert(r.resolveKey(did).isEmpty && fetches == 1)
    // inside the negative TTL the miss answers from cache — the
    // fetch+backoff train is not re-paid per request (the 4-thread-pool
    // amplification the uncached form handed an attacker)
    available = true
    now += 1000
    assert(r.resolveKey(did).isEmpty && fetches == 1)
    // past the TTL the key published in the meantime is found
    now += 30000
    assert(r.resolveKey(did).isDefined && fetches == 2)
    // and a hit never consults the stale miss entry again
    now += 1000
    assert(r.resolveKey(did).isDefined && fetches == 2)
  }

  test("a document without an #atproto method or with garbage yields None") {
    val did = "did:plc:nokey"
    val noAtproto = s"""{"id":"$did","verificationMethod":[
      |  {"id":"$did#other","publicKeyMultibase":"$multibase"}]}""".stripMargin
    assert(new DidResolver(_ => Some(noAtproto)).resolveKey(did).isEmpty)
    assert(new DidResolver(_ => Some("not json")).resolveKey(did).isEmpty)
    assert(new DidResolver(_ => Some("{}")).resolveKey(did).isEmpty)
  }

  test("end-to-end over HTTP: ES256K token verifies with a directory-fetched key") {
    val requester = "did:plc:wireloop"
    val service = "did:web:feeds.example.com"
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/" + requester, ex => {
      val body = didDoc(requester).getBytes("UTF-8")
      ex.getResponseHeaders.add("Content-Type", "application/json")
      ex.sendResponseHeaders(200, body.length)
      ex.getResponseBody.write(body); ex.close()
    })
    server.start()
    try {
      val plcUrl = s"http://127.0.0.1:${server.getAddress.getPort}"
      // the fixture server IS loopback, so the private-range resolve
      // guard is switched off here; its own behavior is spec'd below
      val resolver = new DidResolver(
        new DidResolver.HttpFetcher(guardPrivateRanges = false), plcUrl = plcUrl)
      val exp = System.currentTimeMillis() / 1000 + 600
      val token = Auth.signEs256k(requester, service, exp, priv)
      // Transient-connect recovery now lives in HttpFetcher itself
      // (bounded retry on exceptions); one extra request-level retry here
      // covers the pathological case of ALL fetch attempts landing in the
      // same load spike under the parallel test suite.
      val got =
        try Auth.validateAuth(Some(s"Bearer $token"), service, resolver,
          Auth.Es256kVerifier)
        catch { case _: Auth.AuthError =>
          Thread.sleep(200)
          Auth.validateAuth(Some(s"Bearer $token"), service, resolver,
            Auth.Es256kVerifier)
        }
      assert(got == requester)
      // tampered token still rejects with the network-resolved key
      val bad = TamperedToken(token)
      val err = intercept[Auth.AuthError](
        Auth.validateAuth(Some(s"Bearer $bad"), service, resolver, Auth.Es256kVerifier))
      assert(err.status == 401)
    } finally server.stop(0)
  }

  test("HttpFetcher refuses hosts that resolve to private/internal ranges") {
    import java.net.InetAddress
    def fetcherTo(ip: String) = new DidResolver.HttpFetcher(
      retries = 0, resolve = _ => Array(InetAddress.getByName(ip)))
    // none of these may even attempt a connection: the resolve hook is the
    // only I/O, and a refused range returns None straight away
    for (ip <- Seq("127.0.0.1", "10.1.2.3", "172.16.9.9", "192.168.1.1",
        "169.254.169.254", "100.64.0.7", "198.18.0.1", "240.1.1.1",
        "0.0.0.0", "::1", "fc00::1", "fd12:3456::1", "fe80::1"))
      assert(fetcherTo(ip).fetch("https://public-looking.example.com/did.json").isEmpty,
        s"resolving to $ip must be refused")
    // an unresolvable host is a miss, not a crash
    assert(new DidResolver.HttpFetcher(retries = 0,
      resolve = h => throw new java.net.UnknownHostException(h))
      .fetch("https://nx.example.com/did.json").isEmpty)
  }

  test("redirects re-enter the private-range guard per hop; a legit redirect is followed; loops cap") {
    import java.net.InetAddress
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    def redirectTo(ex: com.sun.net.httpserver.HttpExchange, loc: String): Unit = {
      ex.getResponseHeaders.add("Location", loc)
      ex.sendResponseHeaders(302, -1); ex.close()
    }
    server.createContext("/doc", ex => {
      val body = "{\"ok\":true}".getBytes("UTF-8")
      ex.sendResponseHeaders(200, body.length)
      ex.getResponseBody.write(body); ex.close()
    })
    server.createContext("/same", ex => redirectTo(ex, "/doc"))
    server.createContext("/loop", ex => redirectTo(ex, "/loop"))
    server.createContext("/internal", ex =>
      // a "public" host 302-ing the fetch into the deployment network —
      // the SSRF shape Redirect.NORMAL followed blind (r16 review fix)
      redirectTo(ex, "http://internal-target.example/secret"))
    server.start()
    try {
      val base = s"http://127.0.0.1:${server.getAddress.getPort}"
      // the guard is ON; the injected resolve paints the fixture server
      // public and the redirect target private, so only the guard's
      // verdicts differ per hop (the socket still reaches loopback)
      val fetcher = new DidResolver.HttpFetcher(retries = 0,
        resolve = {
          case "internal-target.example" => Array(InetAddress.getByName("10.0.0.5"))
          case _ => Array(InetAddress.getByName("93.184.216.34"))
        })
      assert(fetcher.fetch(s"$base/same").contains("{\"ok\":true}"),
        "a legitimate same-host redirect must be followed")
      assert(fetcher.fetch(s"$base/internal").isEmpty,
        "a redirect into a private range must be refused at the hop")
      assert(fetcher.fetch(s"$base/loop").isEmpty,
        "a redirect loop must cap, not spin")
    } finally server.stop(0)
  }

  test("isPrivateAddress passes ordinary public unicast addresses") {
    import java.net.InetAddress
    for (ip <- Seq("93.184.216.34", "8.8.8.8", "2606:2800:220:1::1"))
      assert(!DidResolver.isPrivateAddress(InetAddress.getByName(ip)), ip)
  }
}
