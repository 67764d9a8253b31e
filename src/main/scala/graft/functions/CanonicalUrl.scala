package graft.functions

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** URL canonicalization as ONE native pass — the fused form of the
  * declarative Column chain in
  * [[graft.ext.TextAnalysis.canonicalizeUrl]], which stays the
  * executable spec this expression is tested against (the
  * LshBuckets/WinnowFps dual-formulation precedent). Same 5-step law:
  * fragment strip, scheme/host lowercase (via UTF8String.toLowerCase —
  * the exact `lower()` semantics), default-port strip, empty path →
  * `/`, tracking params (`utm_*`, `fbclid`, `gclid`, `ref`) dropped
  * and the rest sorted BYTE-lexicographically (UTF8String order, the
  * exact `array_sort` comparator). Non-URLs pass through unchanged;
  * null stays null.
  */
case class CanonicalUrl(child: Expression) extends NativeUnary[UTF8String] {
  override def dataType: DataType = StringType
  override def inputTypes = Seq(StringType)

  private val trackingRe =
    java.util.regex.Pattern.compile("^(utm_[^=]*|fbclid|gclid|ref)(=.*)?$")

  def compute(in: UTF8String): UTF8String = {
    val full = in.toString
    // 1. fragment strip — replaceAll, not indexOf-cut: the spec chain
    // is regexp_replace(url, "#.*", "") and Java '.' stops at \n, so a
    // multiline value keeps post-newline content exactly as lower()'s
    // regex law does
    val u = full.replaceAll("#.*", "")
    // scheme = ^[A-Za-z][A-Za-z0-9+.-]*://
    val sep = u.indexOf("://")
    def schemeOk: Boolean = sep >= 1 && {
      val c0 = u.charAt(0)
      ((c0 >= 'A' && c0 <= 'Z') || (c0 >= 'a' && c0 <= 'z')) &&
        (1 until sep).forall { i =>
          val c = u.charAt(i)
          (c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z') ||
            (c >= '0' && c <= '9') || c == '+' || c == '.' || c == '-'
        }
    }
    if (!schemeOk) return in // non-URL: unchanged (the whole input)
    // 2. lowercase scheme + host via UTF8String (exact lower() law)
    val scheme = UTF8String.fromString(u.substring(0, sep))
      .toLowerCase.toString
    val rest = u.substring(sep + 3)
    var hostEnd = rest.length
    var i = 0
    while (i < rest.length && hostEnd == rest.length) {
      val c = rest.charAt(i)
      if (c == '/' || c == '?' || c == '#') hostEnd = i
      i += 1
    }
    var host = UTF8String.fromString(rest.substring(0, hostEnd))
      .toLowerCase.toString
    // 3. default-port strip
    if (scheme == "http" && host.endsWith(":80"))
      host = host.substring(0, host.length - 3)
    else if (scheme == "https" && host.endsWith(":443"))
      host = host.substring(0, host.length - 4)
    // 4. path (up to '?'), empty → "/"
    val afterHost = rest.substring(hostEnd)
    val qMark = afterHost.indexOf('?')
    val path0 = if (qMark >= 0) afterHost.substring(0, qMark) else afterHost
    val path = if (path0.isEmpty) "/" else path0
    // 5. query params: drop tracking, sort byte-lexicographically
    val qpart =
      if (qMark < 0) ""
      else {
        val params = afterHost.substring(qMark + 1).split("&", -1)
          .filter(p => p.nonEmpty && !trackingRe.matcher(p).find())
          .map(UTF8String.fromString)
        java.util.Arrays.sort(params,
          (a: UTF8String, b: UTF8String) => a.compareTo(b))
        if (params.isEmpty) ""
        else "?" + params.map(_.toString).mkString("&")
      }
    UTF8String.fromString(scheme + "://" + host + path + qpart)
  }

  override protected def withNewChildInternal(newChild: Expression): CanonicalUrl =
    copy(child = newChild)
}
