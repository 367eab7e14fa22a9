package graft.serving

import com.fasterxml.jackson.databind.ObjectMapper

/** Service-JWT verification — the serving plane's auth gate
  * (/root/reference/src/auth.ts:5-18: bearer token → verifyJwt against the
  * service DID with a per-issuer key resolved from the issuer's DID
  * document; the verified `iss` DID is the requester identity handed to
  * the private-feed gate).
  *
  * Structure, expiry, audience, and HMAC-SHA256 signatures are verified
  * here with stock JDK crypto. The atproto wire also signs with ES256K
  * (secp256k1), which the stock JDK cannot verify — a deployment supplies
  * that via a custom [[Verifier]]; the token parsing, claim checks, and
  * resolver flow are identical either way. Key lookup is abstracted as
  * [[KeyResolver]] (the reference resolves via plc.directory — network,
  * out of harness scope; tests use a static map).
  */
object Auth {

  final case class AuthError(status: Int, code: String, message: String)
    extends RuntimeException(message)

  /** did → verification key bytes (HMAC secret, or a public key for a
    * custom verifier). Mirrors didResolver.resolveAtprotoKey. */
  trait KeyResolver { def resolveKey(did: String): Option[Array[Byte]] }

  final case class StaticKeyResolver(keys: Map[String, Array[Byte]]) extends KeyResolver {
    override def resolveKey(did: String): Option[Array[Byte]] = keys.get(did)
  }

  /** (alg, signingInput, signature, key) → valid? Default handles HS256. */
  type Verifier = (String, Array[Byte], Array[Byte], Array[Byte]) => Boolean

  val Hs256Verifier: Verifier = (alg, input, sig, key) => alg match {
    case "HS256" =>
      val mac = javax.crypto.Mac.getInstance("HmacSHA256")
      mac.init(new javax.crypto.spec.SecretKeySpec(key, "HmacSHA256"))
      java.security.MessageDigest.isEqual(mac.doFinal(input), sig)
    case _ => false
  }

  /** ES256K (secp256k1, the atproto wire alg): JOSE signature is r ‖ s
    * (64 bytes) over SHA-256 of the signing input; the resolved key is a
    * SEC 1 point (33-byte compressed or 65-byte uncompressed) — the shape
    * did:plc / did:web documents publish. Backed by [[Secp256k1]], no new
    * dependencies. */
  val Es256kVerifier: Verifier = (alg, input, sig, key) => alg match {
    case "ES256K" if sig.length == 64 =>
      Secp256k1.decodePoint(key).exists { pub =>
        val digest = java.security.MessageDigest.getInstance("SHA-256").digest(input)
        Secp256k1.verify(digest, BigInt(1, sig.take(32)), BigInt(1, sig.drop(32)), pub)
      }
    case _ => false
  }

  /** Production default: dispatch on the KEY's shape, never on the
    * attacker-controlled `alg` header. A resolved key that parses as a
    * secp256k1 point (the shape DID documents publish — PUBLIC bytes)
    * accepts ONLY ES256K; anything else is a shared secret and accepts
    * ONLY HS256. Trying both verifiers in disjunction would be the
    * classic JWT alg-confusion forgery: anyone can read a victim's
    * public point from the directory and HMAC a token with those bytes
    * as the "secret". (A genuine HMAC secret that happens to decode as
    * a curve point — 33/65 bytes starting 0x02/03/04, on-curve — would
    * be misrouted, but that fails closed: the token is rejected.) */
  val DefaultVerifier: Verifier = (alg, input, sig, key) =>
    if (Secp256k1.decodePoint(key).isDefined) Es256kVerifier(alg, input, sig, key)
    else Hs256Verifier(alg, input, sig, key)

  private val mapper = new ObjectMapper()

  /** Strict unpadded base64url: the JDK decoder ignores the unused low
    * bits of a final partial group (and accepts padding), so several
    * strings decode to the same bytes. Only the one canonical encoding is
    * accepted, so a token has exactly one valid spelling. */
  private def b64urlDecode(s: String): Array[Byte] = {
    val b = java.util.Base64.getUrlDecoder.decode(s)
    if (b64urlEncode(b) != s)
      throw new IllegalArgumentException("non-canonical base64url")
    b
  }

  def b64urlEncode(b: Array[Byte]): String =
    java.util.Base64.getUrlEncoder.withoutPadding.encodeToString(b)

  /** Mint an HS256 service JWT — fixtures/tests and the ops scripts'
    * dry-run path. */
  def signHs256(iss: String, aud: String, expEpochSec: Long, key: Array[Byte]): String = {
    val header = b64urlEncode("""{"alg":"HS256","typ":"JWT"}""".getBytes("UTF-8"))
    val payload = b64urlEncode(
      s"""{"iss":"$iss","aud":"$aud","exp":$expEpochSec}""".getBytes("UTF-8"))
    val input = s"$header.$payload"
    val mac = javax.crypto.Mac.getInstance("HmacSHA256")
    mac.init(new javax.crypto.spec.SecretKeySpec(key, "HmacSHA256"))
    s"$input.${b64urlEncode(mac.doFinal(input.getBytes("US-ASCII")))}"
  }

  /** Mint an ES256K service JWT with the fixture-grade deterministic
    * signer ([[Secp256k1.sign]]) — AuthSpec's wire fixture and ops
    * dry-runs; real tokens come from the requester's PDS. */
  def signEs256k(iss: String, aud: String, expEpochSec: Long, priv: BigInt): String = {
    val header = b64urlEncode("""{"alg":"ES256K","typ":"JWT"}""".getBytes("UTF-8"))
    val payload = b64urlEncode(
      s"""{"iss":"$iss","aud":"$aud","exp":$expEpochSec}""".getBytes("UTF-8"))
    val input = s"$header.$payload"
    val digest = java.security.MessageDigest.getInstance("SHA-256")
      .digest(input.getBytes("US-ASCII"))
    val (r, s) = Secp256k1.sign(digest, priv)
    def fixed32(v: BigInt): Array[Byte] = {
      val raw = v.toByteArray.dropWhile(_ == 0)
      Array.fill[Byte](32 - raw.length)(0) ++ raw
    }
    s"$input.${b64urlEncode(fixed32(r) ++ fixed32(s))}"
  }

  /** Verify `Authorization: Bearer <jwt>` and return the requester DID
    * (the verified `iss`). Throws [[AuthError]] with the reference's
    * status semantics: 401 AuthRequired for a missing/invalid credential.
    * `nowEpochSec` is injectable for tests. */
  def validateAuth(authorization: Option[String], serviceDid: String,
      resolver: KeyResolver, verifier: Verifier = DefaultVerifier,
      nowEpochSec: Long = System.currentTimeMillis() / 1000): String = {
    val bearer = authorization.filter(_.startsWith("Bearer "))
      .getOrElse(throw AuthError(401, "AuthRequired", "missing bearer token"))
    val jwt = bearer.stripPrefix("Bearer ").trim
    val parts = jwt.split('.')
    if (parts.length != 3) throw AuthError(401, "AuthRequired", "malformed jwt")
    val (h64, p64, s64) = (parts(0), parts(1), parts(2))
    val (header, payload, sig) =
      try (mapper.readTree(b64urlDecode(h64)), mapper.readTree(b64urlDecode(p64)),
        b64urlDecode(s64))
      catch { case _: Exception => throw AuthError(401, "AuthRequired", "undecodable jwt") }

    val alg = Option(header.get("alg")).map(_.asText())
      .getOrElse(throw AuthError(401, "AuthRequired", "missing alg"))
    val iss = Option(payload.get("iss")).map(_.asText())
      .getOrElse(throw AuthError(401, "AuthRequired", "missing iss"))
    val aud = Option(payload.get("aud")).map(_.asText())
    val exp = Option(payload.get("exp")).map(_.asLong())

    if (!aud.contains(serviceDid))
      throw AuthError(401, "AuthRequired", "jwt audience is not this service")
    // exp is REQUIRED: a token without one would never expire, so a single
    // leak would grant permanent access (atproto service JWTs always set it)
    if (!exp.exists(_ >= nowEpochSec))
      throw AuthError(401, "AuthRequired", "jwt expired or missing exp")
    val key = resolver.resolveKey(iss)
      .getOrElse(throw AuthError(401, "AuthRequired", s"cannot resolve key for $iss"))
    val input = s"$h64.$p64".getBytes("US-ASCII")
    if (!verifier(alg, input, sig, key))
      throw AuthError(401, "AuthRequired", "bad signature")
    iss
  }
}
