package graft.serving

import org.scalatest.funsuite.AnyFunSuite

/** ES256K end-to-end: curve math against public SEC 2 constants, point
  * codec round-trips, ECDSA sign/verify, and the full JWT path through
  * [[Auth.validateAuth]] with the secp256k1 verifier. */
class Secp256k1Spec extends AnyFunSuite {

  import Secp256k1._

  private val priv = BigInt("1B1D89A8C6FA8EB4A9E6F0D1B0313F6D0E3AD38C6ED93D1E2CFFEF21A9FB6F0C", 16)
  private val pub = mul(G, priv).get

  test("group law matches the public 2G constant") {
    // 2·G is a published curve vector (appears in every secp256k1 test suite)
    val twoG = mul(G, 2).get
    assert(twoG.x == BigInt("C6047F9441ED7D6D3045406E95C07CD85C778E4B8CEF3CA7ABAC09B95C709EE5", 16))
    assert(twoG.y == BigInt("1AE168FEA63DC339A3C58419466CEAEEF7F632653266D0E1236431A950CFE52A", 16))
    // n·G = identity
    assert(mul(G, N).isEmpty)
  }

  test("SEC1 codec: compressed round-trip, uncompressed decode, off-curve rejected") {
    val enc = compress(pub)
    assert(enc.length == 33 && (enc(0) == 0x02 || enc(0) == 0x03))
    assert(decodePoint(enc).contains(pub))
    def fixed32(v: BigInt) = {
      val raw = v.toByteArray.dropWhile(_ == 0)
      Array.fill[Byte](32 - raw.length)(0) ++ raw
    }
    val unc = 0x04.toByte +: (fixed32(pub.x) ++ fixed32(pub.y))
    assert(decodePoint(unc).contains(pub))
    // perturbing y leaves the curve
    val bad = unc.clone(); bad(64) = (bad(64) ^ 1).toByte
    assert(decodePoint(bad).isEmpty)
    assert(decodePoint(Array[Byte](0x05, 1, 2)).isEmpty)
  }

  test("ECDSA sign/verify round-trip; high-s also accepted; tampering fails") {
    val digest = java.security.MessageDigest.getInstance("SHA-256")
      .digest("hello atproto".getBytes("UTF-8"))
    val (r, s) = sign(digest, priv)
    assert(s <= N / 2) // signer normalizes low-s like the atproto wire
    assert(verify(digest, r, s, pub))
    assert(verify(digest, r, N - s, pub)) // non-normalized form still verifies
    assert(!verify(digest, r + 1, s, pub))
    val other = java.security.MessageDigest.getInstance("SHA-256")
      .digest("goodbye".getBytes("UTF-8"))
    assert(!verify(other, r, s, pub))
    // a different key does not verify
    assert(!verify(digest, r, s, mul(G, priv + 1).get))
  }

  test("ES256K service JWT verifies through validateAuth; HS256-only verifier rejects it") {
    val resolver = Auth.StaticKeyResolver(Map("did:plc:alice" -> compress(pub)))
    val exp = System.currentTimeMillis() / 1000 + 600
    val token = Auth.signEs256k("did:plc:alice", "did:web:feeds.example.com", exp, priv)

    val who = Auth.validateAuth(Some(s"Bearer $token"), "did:web:feeds.example.com",
      resolver, Auth.Es256kVerifier)
    assert(who == "did:plc:alice")
    // the combined production default dispatches by key shape
    assert(Auth.validateAuth(Some(s"Bearer $token"), "did:web:feeds.example.com",
      resolver, Auth.DefaultVerifier) == "did:plc:alice")

    // tampered signature → 401
    val tampered = TamperedToken(token)
    val e1 = intercept[Auth.AuthError](Auth.validateAuth(Some(s"Bearer $tampered"),
      "did:web:feeds.example.com", resolver, Auth.Es256kVerifier))
    assert(e1.status == 401)

    // the HS256-only verifier must not accept an ES256K token (no alg confusion)
    val e2 = intercept[Auth.AuthError](Auth.validateAuth(Some(s"Bearer $token"),
      "did:web:feeds.example.com", resolver, Auth.Hs256Verifier))
    assert(e2.status == 401)

    // and an uncompressed key resolves identically
    def fixed32(v: BigInt) = {
      val raw = v.toByteArray.dropWhile(_ == 0)
      Array.fill[Byte](32 - raw.length)(0) ++ raw
    }
    val unc = Auth.StaticKeyResolver(Map(
      "did:plc:alice" -> (0x04.toByte +: (fixed32(pub.x) ++ fixed32(pub.y)))))
    assert(Auth.validateAuth(Some(s"Bearer $token"), "did:web:feeds.example.com",
      unc, Auth.Es256kVerifier) == "did:plc:alice")
  }

  test("DefaultVerifier rejects the alg-confusion forgery (HS256 keyed by the public point)") {
    // the classic downgrade: the attacker reads alice's PUBLIC point from
    // the directory and HMACs an HS256 token with those bytes as the
    // "secret" — key-shape dispatch must refuse to run HMAC with a point
    val resolver = Auth.StaticKeyResolver(Map("did:plc:alice" -> compress(pub)))
    val exp = System.currentTimeMillis() / 1000 + 600
    val forged = Auth.signHs256("did:plc:alice", "did:web:feeds.example.com", exp, compress(pub))
    val e = intercept[Auth.AuthError](Auth.validateAuth(Some(s"Bearer $forged"),
      "did:web:feeds.example.com", resolver, Auth.DefaultVerifier))
    assert(e.status == 401)
    // a genuine shared-secret deployment still verifies HS256 through the default
    val secret = "not-a-curve-point-secret".getBytes("UTF-8")
    val hsResolver = Auth.StaticKeyResolver(Map("did:plc:bob" -> secret))
    val legit = Auth.signHs256("did:plc:bob", "did:web:feeds.example.com", exp, secret)
    assert(Auth.validateAuth(Some(s"Bearer $legit"), "did:web:feeds.example.com",
      hsResolver, Auth.DefaultVerifier) == "did:plc:bob")
  }

  test("a signature spelled in non-canonical base64url is rejected") {
    val secret = "shared".getBytes("UTF-8")
    val resolver = Auth.StaticKeyResolver(Map("did:plc:alice" -> secret))
    val token = Auth.signHs256("did:plc:alice", "did:web:feeds.example.com",
      System.currentTimeMillis() / 1000 + 600, secret)
    assert(Auth.validateAuth(Some(s"Bearer $token"), "did:web:feeds.example.com",
      resolver, Auth.Hs256Verifier) == "did:plc:alice")
    // a 32-byte HMAC is 43 characters; the last one carries 4 data bits
    // and 2 unused ones. Setting an unused bit spells the same bytes.
    val alphabet = "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789-_"
    val last = alphabet(alphabet.indexOf(token.last.toInt) | 1)
    val respelled = token.dropRight(1) + last
    val sig = (t: String) => java.util.Base64.getUrlDecoder.decode(t.split('.')(2)).toSeq
    assert(respelled != token && sig(respelled) == sig(token),
      "the JDK decoder ignores the unused bits")
    val e = intercept[Auth.AuthError](Auth.validateAuth(Some(s"Bearer $respelled"),
      "did:web:feeds.example.com", resolver, Auth.Hs256Verifier))
    assert(e.status == 401)
  }

  test("a token without exp is rejected (nothing lives forever)") {
    val secret = "shared".getBytes("UTF-8")
    val resolver = Auth.StaticKeyResolver(Map("did:plc:alice" -> secret))
    // hand-build an exp-less payload with a valid HS256 signature
    val header = Auth.b64urlEncode("""{"alg":"HS256","typ":"JWT"}""".getBytes("UTF-8"))
    val payload = Auth.b64urlEncode(
      """{"iss":"did:plc:alice","aud":"did:web:feeds.example.com"}""".getBytes("UTF-8"))
    val input = s"$header.$payload"
    val mac = javax.crypto.Mac.getInstance("HmacSHA256")
    mac.init(new javax.crypto.spec.SecretKeySpec(secret, "HmacSHA256"))
    val token = s"$input.${Auth.b64urlEncode(mac.doFinal(input.getBytes("US-ASCII")))}"
    val e = intercept[Auth.AuthError](Auth.validateAuth(Some(s"Bearer $token"),
      "did:web:feeds.example.com", resolver, Auth.Hs256Verifier))
    assert(e.status == 401 && e.message.contains("exp"))
  }
}
