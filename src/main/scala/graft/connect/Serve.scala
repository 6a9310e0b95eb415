package graft.connect

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

/** Serving twin of the dated-CSV source (reference: `main.py:160-235`, the
  * v2 date-parameterized endpoints): resolve `{date}/{keyword}_{date}.csv`
  * under a root, read with the declared contract, and emit bounded JSON
  * records — what a thin HTTP layer would return. The HTTP framework
  * itself stays out of the engine (like Airflow, it is deployment, not
  * query processing); this is the data-plane function it would call.
  *
  * The reference's v1 endpoints (no date parameter) are decommissioned in
  * favor of v2 (`main.py:128-156` vs `:160-235`) — only the v2 shape is
  * reproduced. `limit` bounds driver memory (the reference collects the
  * whole file into pandas — unbounded).
  *
  * AUTH: the reference gates every v2 endpoint behind a bearer JWT
  * (`Fastapi/main.py:107-126` validates, `Fastapi/utils.py:34-66` issues
  * HS256 tokens with an expiry claim). [[records]] reproduces that seam:
  * callers pass the presented token and a `tokenVerifier`; a rejected
  * token raises [[Unauthorized]] BEFORE any data is read — the data-plane
  * equivalent of the 401. [[hs256Verifier]]/[[issueToken]] are a
  * self-contained HS256 implementation of the reference's token scheme
  * (subject + expiry, HMAC-SHA256 over base64url(header).base64url
  * (payload)); any other verifier (e.g. an introspection call) plugs into
  * the same function type.
  */
object Serve {

  /** 401-equivalent: the presented token failed verification. */
  final case class Unauthorized(msg: String) extends RuntimeException(msg)

  /** Verifier that admits everything — for deployments that terminate
    * auth upstream. [[records]] has no default verifier, so serving
    * without auth is always spelled out at the call site. */
  val AllowAll: String => Boolean = _ => true

  def records(spark: SparkSession, root: String, keyword: String,
              date: java.time.LocalDate, contract: StructType,
              limit: Int = 1000, token: String,
              tokenVerifier: String => Boolean): Seq[String] = {
    if (!tokenVerifier(token))
      throw Unauthorized(s"token rejected for keyword=$keyword date=$date")
    val path = Csv.datedPath(s"$root/{date}/${keyword}_{date}.csv", date)
    Csv.read(spark, path, contract).limit(limit)
      .toJSON.collect().toSeq
  }

  // ------------------------------------------------------------- HS256
  private def b64url(b: Array[Byte]): String =
    java.util.Base64.getUrlEncoder.withoutPadding.encodeToString(b)
  private def hmac(secret: String, data: String): Array[Byte] = {
    val mac = javax.crypto.Mac.getInstance("HmacSHA256")
    mac.init(new javax.crypto.spec.SecretKeySpec(
      secret.getBytes("UTF-8"), "HmacSHA256"))
    mac.doFinal(data.getBytes("UTF-8"))
  }

  /** Issue an HS256 token carrying (sub, exp-epoch-seconds) — the shape
    * of the reference's `create_access_token` (`Fastapi/utils.py:34-66`).
    * The subject is JSON-escaped: without it an attacker-influenced
    * subject like `x","exp":99999999999` would inject an earlier exp
    * claim that the verifier's first-match extraction honors, extending
    * the token's lifetime arbitrarily. */
  def issueToken(secret: String, subject: String, expEpochSec: Long): String = {
    val sub = subject.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }
    val header = b64url("""{"alg":"HS256","typ":"JWT"}""".getBytes("UTF-8"))
    val payload = b64url(s"""{"sub":"$sub","exp":$expEpochSec}""".getBytes("UTF-8"))
    s"$header.$payload." + b64url(hmac(secret, s"$header.$payload"))
  }

  /** Verifier for [[issueToken]] tokens: checks the HMAC (constant-time
    * compare) and the expiry claim against `now` (injected for
    * testability; production binds `() => System.currentTimeMillis/1000`). */
  def hs256Verifier(secret: String, now: () => Long): String => Boolean = {
    token =>
      token.split('.') match {
        case Array(h, p, sig) =>
          val want = hmac(secret, s"$h.$p")
          val got = try java.util.Base64.getUrlDecoder.decode(sig)
                    catch { case _: IllegalArgumentException => Array.empty[Byte] }
          val sigOk = java.security.MessageDigest.isEqual(want, got)
          val exp = try {
            val json = new String(java.util.Base64.getUrlDecoder.decode(p), "UTF-8")
            "\"exp\"\\s*:\\s*(\\d+)".r.findFirstMatchIn(json).map(_.group(1).toLong)
          } catch { case _: IllegalArgumentException => None }
          sigOk && exp.exists(_ > now())
        case _ => false
      }
  }
}
