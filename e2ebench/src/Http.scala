package e2ebench

import java.net.{HttpURLConnection, URI, URLEncoder}

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** Blocking HTTP client calls over JDK keep-alive connections. */
object Http {
  final case class Resp(code: Int, body: Array[Byte], startNs: Long, endNs: Long) {
    def ms: Double = (endNs - startNs) / 1e6
    def text: String = new String(body, "UTF-8")
    def json: JsonNode = mapper.readTree(body)
  }

  private val mapper = new ObjectMapper()

  def enc(s: String): String = URLEncoder.encode(s, "UTF-8")

  def qs(params: Seq[(String, String)]): String =
    params.map { case (k, v) => s"${enc(k)}=${enc(v)}" }.mkString("&")

  private def read(c: HttpURLConnection): (Int, Array[Byte]) = {
    val code = c.getResponseCode
    val in = if (code >= 400) c.getErrorStream else c.getInputStream
    val body = if (in == null) Array.emptyByteArray
      else try in.readAllBytes() finally in.close()
    (code, body)
  }

  def get(url: String): Resp = {
    val t0 = System.nanoTime()
    val c = URI.create(url).toURL.openConnection().asInstanceOf[HttpURLConnection]
    c.setConnectTimeout(10000); c.setReadTimeout(60000)
    val (code, body) = read(c)
    Resp(code, body, t0, System.nanoTime())
  }

  def post(url: String, body: Array[Byte], encoding: Option[String]): Resp = {
    val t0 = System.nanoTime()
    val c = URI.create(url).toURL.openConnection().asInstanceOf[HttpURLConnection]
    c.setConnectTimeout(10000); c.setReadTimeout(60000)
    c.setRequestMethod("POST")
    c.setDoOutput(true)
    c.setRequestProperty("Content-Type", "application/x-protobuf")
    encoding.foreach(c.setRequestProperty("Content-Encoding", _))
    c.setFixedLengthStreamingMode(body.length)
    val os = c.getOutputStream
    try os.write(body) finally os.close()
    val (code, rb) = read(c)
    Resp(code, rb, t0, System.nanoTime())
  }
}
