package graft.operators

import java.io.StringWriter
import java.nio.file.{Files, Path, Paths}
import javax.xml.parsers.DocumentBuilderFactory
import javax.xml.transform.{OutputKeys, TransformerFactory}
import javax.xml.transform.dom.DOMSource
import javax.xml.transform.stream.StreamResult
import scala.jdk.CollectionConverters._

import org.w3c.dom.{Document, Element}

import org.apache.spark.sql.types.DataType

import graft.sources.{CsvDialect, DecimalMode, MalformedMode}

/** Config persistence (R19/R20): the whole job configuration — source /
  * destination settings, both dialects, operational knobs, and every
  * mapping with its column mappings and conditionals — round-trips through
  * XML, mirroring the reference provider's XML ctor + `SaveAsXml`
  * (reference src/CSVProvider.cs:363-454, 317-351). JDK DOM only; no
  * external dependencies.
  */
object ConfigXml {

  // --- save ---------------------------------------------------------------

  def save(cfg: JobConfig, mappings: Seq[Mapping], path: Path): Unit = {
    val doc = DocumentBuilderFactory.newInstance().newDocumentBuilder().newDocument()
    val root = doc.createElement("graftJob")
    doc.appendChild(root)

    val src = doc.createElement("source")
    cfg.sourceFile.foreach(f => src.setAttribute("file", f.toString))
    cfg.sourceFolder.foreach(d => src.setAttribute("folder", d.toString))
    root.appendChild(src)

    val dst = doc.createElement("destination")
    dst.setAttribute("folder", cfg.destFolder.toString)
    root.appendChild(dst)

    root.appendChild(dialectEl(doc, "sourceDialect", cfg.sourceDialect))
    root.appendChild(dialectEl(doc, "destDialect", cfg.destDialect))

    val opts = doc.createElement("options")
    opts.setAttribute("deleteSourceFiles", cfg.deleteSourceFiles.toString)
    opts.setAttribute("sourceStabilityCheck", cfg.sourceStabilityCheck.toString)
    opts.setAttribute("stabilitySleepMs", cfg.stabilitySleepMs.toString)
    cfg.timestampSuffix.foreach(opts.setAttribute("timestampSuffix", _))
    opts.setAttribute("autoTimestampSuffix", cfg.autoTimestampSuffix.toString)
    opts.setAttribute("singleFileOutput", cfg.singleFileOutput.toString)
    if (cfg.culture.nonEmpty) opts.setAttribute("culture", cfg.culture)
    if (cfg.maxParallelMappings != 1)
      opts.setAttribute("maxParallelMappings", cfg.maxParallelMappings.toString)
    root.appendChild(opts)

    // R19 schema block: the edited source schema round-trips like the
    // reference's SaveAsXml schema (src/CSVProvider.cs:331, :389-391).
    if (cfg.schemaOverrides.nonEmpty) {
      val sch = doc.createElement("schema")
      cfg.schemaOverrides.foreach { t =>
        val te = doc.createElement("table")
        te.setAttribute("name", t.table)
        t.columns.foreach { c =>
          val ce = doc.createElement("column")
          ce.setAttribute("name", c.name)
          c.castTo.foreach(dt => ce.setAttribute("castTo", dt.catalogString))
          te.appendChild(ce)
        }
        sch.appendChild(te)
      }
      root.appendChild(sch)
    }

    val ms = doc.createElement("mappings")
    mappings.foreach(m => ms.appendChild(mappingEl(doc, m)))
    root.appendChild(ms)

    val tf = TransformerFactory.newInstance().newTransformer()
    tf.setOutputProperty(OutputKeys.INDENT, "yes")
    val sw = new StringWriter()
    tf.transform(new DOMSource(doc), new StreamResult(sw))
    Files.writeString(path, sw.toString)
  }

  private def dialectEl(doc: Document, tag: String, d: CsvDialect): Element = {
    val e = doc.createElement(tag)
    e.setAttribute("delimiter", d.delimiter)
    e.setAttribute("quote", d.quote)
    e.setAttribute("hasHeader", d.hasHeader.toString)
    e.setAttribute("nullSentinel", d.nullSentinel)
    e.setAttribute("encoding", d.encoding)
    e.setAttribute("malformed", d.malformed match {
      case MalformedMode.Drop => "drop"
      case MalformedMode.Fail => "fail"
    })
    e.setAttribute("decimalMode", decimalName(d.decimalMode))
    e
  }

  private def mappingEl(doc: Document, m: Mapping): Element = {
    val e = doc.createElement("mapping")
    e.setAttribute("sourceTable", m.sourceTable)
    e.setAttribute("destTable", m.destTable)
    e.setAttribute("active", m.active.toString)
    m.columns.foreach { cm =>
      val c = doc.createElement("column")
      cm.source.foreach(c.setAttribute("source", _))
      c.setAttribute("dest", cm.dest)
      c.setAttribute("active", cm.active.toString)
      cm.constant.foreach(c.setAttribute("constant", _))
      cm.castTo.foreach(t => c.setAttribute("castTo", t.catalogString))
      c.setAttribute("decimalMode", decimalName(cm.decimalMode))
      cm.timestampFormat.foreach(c.setAttribute("timestampFormat", _))
      e.appendChild(c)
    }
    m.conditionals.foreach { cond =>
      val c = doc.createElement("conditional")
      c.setAttribute("column", cond.column)
      c.setAttribute("op", cond.op.toString)
      cond.values.foreach { v =>
        val ve = doc.createElement("value")
        ve.setTextContent(v)
        c.appendChild(ve)
      }
      e.appendChild(c)
    }
    e
  }

  private def decimalName(m: DecimalMode): String = m match {
    case DecimalMode.Detect => "detect"
    case DecimalMode.Comma  => "comma"
    case DecimalMode.Dot    => "dot"
    case DecimalMode.None   => "none"
  }

  // --- load ---------------------------------------------------------------

  def load(path: Path): (JobConfig, Seq[Mapping]) = {
    val doc = DocumentBuilderFactory.newInstance().newDocumentBuilder()
      .parse(path.toFile)
    val root = doc.getDocumentElement

    def one(tag: String): Element = required(
      Option(root.getElementsByTagName(tag).item(0)).map(_.asInstanceOf[Element]),
      s"element <$tag>")

    val src = one("source")
    val opts = one("options")
    val schemaOverrides = Option(root.getElementsByTagName("schema").item(0))
      .map(_.asInstanceOf[Element]).toSeq.flatMap { sch =>
        elems(sch, "table").map { te =>
          TableSchemaOverride(
            table = need(te, "name"),
            columns = elems(te, "column").map { ce =>
              ColumnOverride(need(ce, "name"),
                attr(ce, "castTo").map(DataType.fromDDL))
            })
        }
      }
    val cfg = JobConfig(
      destFolder = Paths.get(need(one("destination"), "folder")),
      sourceFile = attr(src, "file").map(Paths.get(_)),
      sourceFolder = attr(src, "folder").map(Paths.get(_)),
      sourceDialect = dialectOf(one("sourceDialect")),
      destDialect = dialectOf(one("destDialect")),
      deleteSourceFiles = need(opts, "deleteSourceFiles").toBoolean,
      sourceStabilityCheck = need(opts, "sourceStabilityCheck").toBoolean,
      stabilitySleepMs = need(opts, "stabilitySleepMs").toLong,
      timestampSuffix = attr(opts, "timestampSuffix"),
      autoTimestampSuffix =
        attr(opts, "autoTimestampSuffix").exists(_.toBoolean),
      singleFileOutput = need(opts, "singleFileOutput").toBoolean,
      schemaOverrides = schemaOverrides,
      culture = attr(opts, "culture").getOrElse(""),
      maxParallelMappings =
        attr(opts, "maxParallelMappings").map(_.toInt).getOrElse(1),
    )

    val mappings = elems(one("mappings"), "mapping").map { me =>
      Mapping(
        sourceTable = need(me, "sourceTable"),
        destTable = need(me, "destTable"),
        columns = elems(me, "column").map { c =>
          ColumnMapping(
            source = attr(c, "source"),
            dest = need(c, "dest"),
            active = need(c, "active").toBoolean,
            constant = attr(c, "constant"),
            castTo = attr(c, "castTo").map(DataType.fromDDL),
            decimalMode = decimalOf(need(c, "decimalMode")),
            timestampFormat = attr(c, "timestampFormat"),
          )
        },
        conditionals = elems(me, "conditional").map { c =>
          Conditional(
            column = need(c, "column"),
            op = opOf(need(c, "op")),
            values = elems(c, "value").map(_.getTextContent),
          )
        },
        active = need(me, "active").toBoolean,
      )
    }
    (cfg, mappings)
  }

  private def attr(e: Element, name: String): Option[String] =
    if (e.hasAttribute(name)) Some(e.getAttribute(name)) else None

  /** A required attribute, named in the error when it is absent. */
  private def need(e: Element, name: String): String =
    required(attr(e, name), s"attribute $name on <${e.getTagName}>")

  /** Every required piece goes through here, so a config that lacks one
    * fails naming it rather than as a parse error on an empty string.
    */
  private def required[A](found: Option[A], what: => String): A =
    found.getOrElse(throw new IllegalArgumentException(s"job config has no $what"))

  private def elems(parent: Element, tag: String): Seq[Element] = {
    val nl = parent.getElementsByTagName(tag)
    (0 until nl.getLength).map(nl.item(_).asInstanceOf[Element])
      .filter(_.getParentNode eq parent)
  }

  private def dialectOf(e: Element): CsvDialect = CsvDialect(
    delimiter = need(e, "delimiter"),
    quote = need(e, "quote"),
    hasHeader = need(e, "hasHeader").toBoolean,
    nullSentinel = need(e, "nullSentinel"),
    encoding = need(e, "encoding"),
    malformed = need(e, "malformed") match {
      case "drop" => MalformedMode.Drop
      case _      => MalformedMode.Fail
    },
    decimalMode = decimalOf(need(e, "decimalMode")),
  )

  private def decimalOf(s: String): DecimalMode = s match {
    case "detect" => DecimalMode.Detect
    case "comma"  => DecimalMode.Comma
    case "dot"    => DecimalMode.Dot
    case _        => DecimalMode.None
  }

  private def opOf(s: String): CondOp = s match {
    case "EqualTo"     => CondOp.EqualTo
    case "NotEqualTo"  => CondOp.NotEqualTo
    case "Contains"    => CondOp.Contains
    case "NotContains" => CondOp.NotContains
    case "StartsWith"  => CondOp.StartsWith
    case "EndsWith"    => CondOp.EndsWith
    case "GreaterThan" => CondOp.GreaterThan
    case "LessThan"    => CondOp.LessThan
    case "In"          => CondOp.In
    case other => throw new IllegalArgumentException(s"unknown CondOp '$other'")
  }
}
