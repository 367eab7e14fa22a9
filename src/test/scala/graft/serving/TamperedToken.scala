package graft.serving

/** Test tokens with a corrupted signature. The change is a flipped bit in
  * a middle byte of the decoded signature, so the token is always
  * different and still canonical base64url: editing the last characters
  * instead can leave the signature bytes unchanged. */
object TamperedToken {
  def apply(jwt: String): String = {
    val Array(h, p, s) = jwt.split('.')
    val sig = java.util.Base64.getUrlDecoder.decode(s)
    sig(sig.length / 2) = (sig(sig.length / 2) ^ 1).toByte
    s"$h.$p.${Auth.b64urlEncode(sig)}"
  }
}
