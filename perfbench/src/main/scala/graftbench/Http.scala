package graftbench

import java.net.{HttpURLConnection, URI}

/** Minimal HTTP GET client; connections are reused through the JDK's
  * keep-alive cache, so each client thread keeps one connection. */
object Http {
  final case class Response(code: Int, body: Array[Byte])

  def get(url: String, token: String): Response = {
    val c = new URI(url).toURL.openConnection().asInstanceOf[HttpURLConnection]
    c.setRequestProperty("Authorization", s"Bearer $token")
    c.setConnectTimeout(10000)
    c.setReadTimeout(120000)
    val code = c.getResponseCode
    val in = if (code >= 400) c.getErrorStream else c.getInputStream
    val body = if (in == null) Array.emptyByteArray else try in.readAllBytes() finally in.close()
    Response(code, body)
  }
}
