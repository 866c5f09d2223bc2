package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import graft.core.Term
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import scala.jdk.CollectionConverters._

/** Order-insensitive answer digests, computed the way `gen.py` computes
  * the expected ones: each row becomes `var=value` pairs sorted by
  * variable and joined by tabs (unbound variables omitted), each value
  * its canonical string, and the digest is the sum modulo 2^64 of the
  * first eight bytes of each row's MD5.
  *
  * Canonical values: an IRI loses graft's reserved bases
  * (`urn:graft:rel/customer/5` → `customer/5`, `urn:graft:kw/c_name` →
  * `c_name`); an xsd:double is `d` + floor(v·100 + 0.5); an integer is
  * its decimal form; anything else is its lexical form.
  */
object Canon {
  final case class Answer(n: Long, digest: String)

  private val Xsd = "http://www.w3.org/2001/XMLSchema#"
  private val Bases = Seq("urn:graft:rel/", "urn:graft:kw/")

  def iri(v: String): String =
    if (v == "urn:graft:nil") "nil"
    else Bases.find(v.startsWith).map(b => v.substring(b.length)).getOrElse(v)

  def literal(lex: String, datatype: String): String = datatype match {
    case d if d == Xsd + "double" || d == Xsd + "float" || d == Xsd + "decimal" =>
      "d" + math.floor(lex.toDouble * 100 + 0.5).toLong
    case d if d == Xsd + "integer" || d == Xsd + "long" || d == Xsd + "int" =>
      lex.trim.toLong.toString
    case _ => lex
  }

  def rowKey(row: Map[String, String]): String =
    row.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString("\t")

  def answer(rows: Iterable[Map[String, String]]): Answer = {
    val md = MessageDigest.getInstance("MD5")
    var sum = 0L
    var n = 0L
    for (r <- rows) {
      val h = md.digest(rowKey(r).getBytes(UTF_8))
      sum += java.nio.ByteBuffer.wrap(h, 0, 8).getLong
      n += 1
    }
    Answer(n, f"$sum%016x")
  }

  // ------------------------------------------------- Spark-side digest

  /** Canonical string of a Term-struct column (null stays null). */
  def termCol(c: Column): Column =
    when(c.isNull, lit(null).cast("string"))
      .when(c("kind") === Term.KDouble,
        concat(lit("d"), floor(c("num") * 100 + 0.5).cast("long").cast("string")))
      .when(c("kind") === Term.KBool,
        when(c("num") =!= 0.0, lit("true")).otherwise(lit("false")))
      .when(c("kind") === Term.KNil, lit("nil"))
      .otherwise(c("lex"))

  /** (row count, digest) of a solution frame of Term-struct columns,
    * computed by one aggregation job. */
  def answerOf(df: DataFrame): Answer = {
    val vars = df.columns.sorted
    val row = concat_ws("\t", vars.map(v =>
      concat(lit(s"$v="), termCol(col(s"`$v`")))).toSeq: _*)
    val h = conv(substring(md5(row), 1, 16), 16, 10).cast(DecimalType(20, 0))
    val r = df.agg(count(lit(1)), sum(h)).head()
    val total = Option(r.getDecimal(1)).map(d => BigInt(d.toBigInteger))
      .getOrElse(BigInt(0))
    Answer(r.getLong(0), f"${(total & ((BigInt(1) << 64) - 1)).toLong}%016x")
  }

  // ------------------------------------------------- response bodies

  private lazy val mapper = new ObjectMapper()

  /** Rows of a SPARQL response body, by the form the request had and
    * the content type it was answered with. */
  def parseBody(kind: String, contentType: String,
                body: String): Seq[Map[String, String]] = kind match {
    case "ask" =>
      val b =
        if (contentType.contains("xml"))
          body.contains("<boolean>true</boolean>")
        else mapper.readTree(body).get("boolean").asBoolean()
      Seq(Map("ask" -> b.toString))
    case "construct" => ntLines(body, Seq("s", "p", "o"))
    case "describe" => ntLines(body, Seq("s", "p", "o", "g"))
    case _ =>
      if (contentType.contains("xml")) xmlRows(body)
      else if (contentType.contains("tab-separated")) tsvRows(body)
      else jsonRows(body)
  }

  private def jsonRows(body: String): Seq[Map[String, String]] =
    mapper.readTree(body).get("results").get("bindings").elements().asScala
      .map { b =>
        b.fields().asScala.map { e =>
          val t = e.getValue
          val v = t.get("value").asText()
          e.getKey -> (if (t.get("type").asText() == "uri") iri(v)
            else literal(v, Option(t.get("datatype")).map(_.asText()).getOrElse("")))
        }.toMap
      }.toSeq

  private def xmlRows(body: String): Seq[Map[String, String]] = {
    val doc = javax.xml.parsers.DocumentBuilderFactory.newInstance()
      .newDocumentBuilder()
      .parse(new java.io.ByteArrayInputStream(body.getBytes(UTF_8)))
    val results = doc.getElementsByTagName("result")
    (0 until results.getLength).map { i =>
      val bs = results.item(i).getChildNodes
      (0 until bs.getLength).map(bs.item).collect {
        case b: org.w3c.dom.Element if b.getTagName == "binding" =>
          val t = b.getFirstChild.asInstanceOf[org.w3c.dom.Element]
          b.getAttribute("name") -> (if (t.getTagName == "uri") iri(t.getTextContent)
            else literal(t.getTextContent, t.getAttribute("datatype")))
      }.toMap
    }
  }

  private def tsvRows(body: String): Seq[Map[String, String]] = {
    val lines = body.split("\n", -1).filter(_.nonEmpty)
    val vars = lines.head.split("\t", -1).map(_.stripPrefix("?"))
    lines.tail.toSeq.map { line =>
      vars.zip(line.split("\t", -1)).collect {
        case (v, cell) if cell.nonEmpty => v -> token(cell, 0)._1
      }.toMap
    }
  }

  /** N-Triples / N-Quads lines → rows over `vars` (a missing graph
    * label, the default graph, leaves `g` unbound). */
  private def ntLines(body: String, vars: Seq[String]): Seq[Map[String, String]] =
    body.split("\n").toSeq.filter(_.trim.nonEmpty).map { line =>
      var pos = 0
      val terms = Seq.newBuilder[String]
      var done = false
      while (!done) {
        while (pos < line.length && line.charAt(pos) == ' ') pos += 1
        if (pos >= line.length || line.charAt(pos) == '.') done = true
        else { val (t, next) = token(line, pos); terms += t; pos = next }
      }
      vars.zip(terms.result()).toMap
    }

  /** One RDF term token at `from`: `<iri>`, `"lex"`, `"lex"@lang`,
    * `"lex"^^<dt>`, or a bare number/boolean; returns its canonical
    * value and the index after it. */
  private def token(s: String, from: Int): (String, Int) = s.charAt(from) match {
    case '<' =>
      val end = s.indexOf('>', from)
      (iri(s.substring(from + 1, end)), end + 1)
    case '"' =>
      val lex = new StringBuilder
      var i = from + 1
      while (s.charAt(i) != '"') {
        if (s.charAt(i) == '\\') {
          lex.append(s.charAt(i + 1) match {
            case 't' => '\t'; case 'n' => '\n'; case 'r' => '\r'
            case c => c
          })
          i += 2
        } else { lex.append(s.charAt(i)); i += 1 }
      }
      i += 1
      if (s.startsWith("^^<", i)) {
        val end = s.indexOf('>', i)
        (literal(lex.toString, s.substring(i + 3, end)), end + 1)
      } else if (i < s.length && s.charAt(i) == '@') {
        var j = i + 1
        while (j < s.length && s.charAt(j) != ' ' && s.charAt(j) != '\t') j += 1
        (lex.toString, j)
      } else (lex.toString, i)
    case _ =>
      var j = from
      while (j < s.length && s.charAt(j) != ' ' && s.charAt(j) != '\t') j += 1
      val raw = s.substring(from, j)
      val v =
        if (raw.matches("[+-]?\\d+")) raw.toLong.toString
        else if (raw == "true" || raw == "false") raw
        else "d" + math.floor(raw.toDouble * 100 + 0.5).toLong
      (v, j)
  }
}
