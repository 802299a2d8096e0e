package graft.tools

import scala.io.StdIn

import org.apache.spark.sql.SparkSession

import graft.GraftSession
import graft.api.{ConnectionString, LocalClient, RemoteClient}
import graft.engine.{Codec, FossilSchema}

/** Interactive REPL — the CLI analog of the reference's client loop
  * (`cmd/fossil/client/client.go:208-356`, `pkg/repl/parser.go:21-118`).
  * The target is a connection string (`pkg/proto/connectionstring.go`
  * shapes): a bare path or `file://path` opens the embedded store
  * ([[LocalClient]]); `fossil://host[:port][/db]` speaks the wire protocol
  * ([[RemoteClient]]) — no SparkSession on the client side at all.
  * Commands:
  *
  *   query <fql>            run an FQL query, print a table
  *   append <topic> <data>  append one datum (parsed per the topic schema)
  *   create topic <path> <schema-ddl>
  *   list topics | list schemas
  *   stats
  *   metrics                (remote) server Prometheus metrics text
  *   version                (remote) server version
  *   use <db>               (remote) switch database
  *   format table|csv|json  set output format (S8 writers)
  *   quit
  *
  * Usage: sbt "runMain graft.tools.Repl /path/to/store"
  *        sbt "runMain graft.tools.Repl fossil://localhost:8001/default"
  */
object Repl {
  /** Command vocabularies per loop — the unmatched-input renderer uses
    * them to distinguish a misspelled command from an incomplete one. */
  private[tools] val RemoteCommands: Set[String] =
    Set("query", "append", "create", "list", "stats", "metrics", "version", "use", "quit")
  private[tools] val LocalCommands: Set[String] =
    Set("query", "append", "create", "list", "stats", "compact", "format", "quit")

  /** S8 output writers (`pkg/repl/writer.go:34-66` analog): one rendered
    * line per row. `table` renders via Spark's own formatter (showString
    * is private — the REPL calls show() directly); csv joins the row
    * values; json delegates to the engine-native `toJSON`. */
  def render(df: org.apache.spark.sql.DataFrame, format: String): Seq[String] =
    format match {
      case "csv" => df.collect().toSeq.map(_.toSeq.mkString(","))
      case "json" => df.toJSON.collect().toSeq
      case other => throw new IllegalArgumentException(s"unknown format '$other'")
    }

  /** Caret-rendered command error over [from, to) of the input line — the
    * REPL analog of the FQL / schema-DDL caret renderings (one shared
    * renderer, reference `FormatError` format). */
  private[tools] def commandError(line: String, msg: String, from: Int, to: Int): String =
    graft.fql.FqlException.caret(msg, from, to, line, "Syntax error found in command:")

  /** Locate the unmatched command's leading token and caret it; a token
    * that IS a known command failed on shape, not spelling, so the message
    * says incomplete rather than unrecognized. */
  private[tools] def unrecognized(line: String, known: Set[String]): String = {
    val tok = line.trim.split("\\s+", 2).head
    val start = line.indexOf(tok)
    val msg =
      if (known(tok)) s"incomplete command '$tok'"
      else s"unrecognized command '$tok'"
    commandError(line, msg, start, start + tok.length)
  }

  /** Parse a REPL datum per a schema DDL (the reference REPL encodes via
    * the topic schema client-side, `pkg/repl/parser.go:42-66` →
    * `pkg/schema/encoding.go:360-520`): scalars parse by type; arrays are
    * bare comma-separated element lists (elements are fixed scalars only,
    * `docs/schema.md:32-34`, so a simple split is exact); composites are
    * `key: value, ...` with optionally-quoted keys and values. */
  private[tools] def parseDatum(ddl: String, data: String): Any =
    parseTyped(FossilSchema.parse(ddl), data)

  private def parseTyped(t: FossilSchema.SType, raw: String): Any = {
    import FossilSchema._
    t match {
      case SString | SBinary => raw
      // reference parity (`encoding.go:371-377`): everything but the
      // literal "false" encodes true
      case SBool => raw.trim != "false"
      case SFloat32 | SFloat64 => raw.trim.toDouble
      case _: Scalar => raw.trim.toLong // all int/uint widths; Codec range-checks
      case SArray(_, elem) =>
        raw.split(",", -1).toSeq.map(s => parseTyped(elem, s.trim))
      case c: SComposite =>
        val fieldTypes = c.fields.toMap
        // a comma-split part without a top-level colon is the continuation
        // of the PREVIOUS field's array literal (array elements are bare
        // comma-separated): '"a": 1, 2, 3, "b": 7' splits into
        // ['"a": 1', ' 2', ' 3', '"b": 7'] and re-merges to two fields
        val merged = splitTopLevel(raw).foldLeft(List.empty[String]) { (acc, part) =>
          if (topLevelColon(part) >= 0 || acc.isEmpty) part :: acc
          else (acc.head + "," + part) :: acc.tail
        }.reverse
        merged.map { part =>
          val ix = topLevelColon(part)
          if (ix < 0)
            throw new IllegalArgumentException(s"malformed composite literal near '$part'")
          val key = unquote(part.substring(0, ix).trim)
          val ft = fieldTypes.getOrElse(key,
            throw new IllegalArgumentException(s"unknown key '$key' in composite literal"))
          key -> parseTyped(ft, unquote(part.substring(ix + 1).trim))
        }.toMap
      case SUnknown | SAmbiguous =>
        throw new IllegalArgumentException(s"cannot parse datum for schema ${t.ddl}")
    }
  }

  /** Split on commas outside double quotes (composite members may be
    * strings containing commas/colons). A backslash inside quotes escapes
    * the next character — `"a\"b"` stays ONE quoted token — so an escaped
    * quote can't flip the quoting state and misparse the rest of the
    * literal; [[unquote]] resolves the escapes. */
  private def splitTopLevel(s: String): Seq[String] = {
    val parts = scala.collection.mutable.ArrayBuffer.empty[String]
    val cur = new StringBuilder
    var inQ = false
    var i = 0
    while (i < s.length) {
      s.charAt(i) match {
        case '\\' if inQ && i + 1 < s.length =>
          cur += '\\'; cur += s.charAt(i + 1); i += 1
        case '"' => inQ = !inQ; cur += '"'
        case ',' if !inQ => parts += cur.toString; cur.clear()
        case ch => cur += ch
      }
      i += 1
    }
    parts += cur.toString
    parts.toSeq
  }

  private def topLevelColon(s: String): Int = {
    var inQ = false
    var i = 0
    while (i < s.length) {
      s.charAt(i) match {
        case '\\' if inQ => i += 1 // skip the escaped character
        case '"' => inQ = !inQ
        case ':' if !inQ => return i
        case _ => ()
      }
      i += 1
    }
    -1
  }

  /** Strip outer quotes and resolve `\"` / `\\` escapes inside them. */
  private def unquote(s: String): String =
    if (s.length >= 2 && s.head == '"' && s.last == '"') {
      val body = s.substring(1, s.length - 1)
      val sb = new StringBuilder
      var i = 0
      while (i < body.length) {
        val c = body.charAt(i)
        // Only \" and \\ are escape sequences; a backslash before any
        // other character is a literal backslash (so "C:\temp" survives).
        if (c == '\\' && i + 1 < body.length &&
            (body.charAt(i + 1) == '"' || body.charAt(i + 1) == '\\')) {
          sb += body.charAt(i + 1); i += 1
        } else sb += c
        i += 1
      }
      sb.result()
    } else s

  /** The schema a topic would get on append: its own entry, else the
    * nearest ancestor's NON-default schema, else the string default —
    * mirroring the server's inheritance walk exactly
    * ([[graft.engine.Catalog]] `parentSchema`: default-`string` ancestors
    * are skipped and the root `/` participates), so the bytes the REPL
    * encodes always validate against the schema the server will enforce. */
  private[tools] def effectiveDdl(topics: Seq[(String, String)], topic: String): String = {
    val byTopic = topics.toMap
    byTopic.get(topic).getOrElse {
      var p = topic
      var found: Option[String] = None
      while (found.isEmpty && p.contains('/') && p != "/") {
        p = p.substring(0, p.lastIndexOf('/')) match { case "" => "/"; case x => x }
        found = byTopic.get(p).filter(_ != "string")
      }
      found.getOrElse("string")
    }
  }

  def main(args: Array[String]): Unit = {
    val target = if (args.nonEmpty) args(0) else "/tmp/graft_repl_store"
    ConnectionString.parse(target) match {
      case r: ConnectionString.Remote => remoteLoop(r)
      case ConnectionString.Local(path) => localLoop(path)
    }
  }

  /** Wire-client loop — plain sockets, no Spark on this side. */
  private def remoteLoop(target: ConnectionString.Remote): Unit = {
    val client = new RemoteClient(target)
    println(s"graft repl over fossil://${target.host}:${target.port}/${target.db} " +
      s"(server ${client.version}) — 'quit' to exit")
    var line = StdIn.readLine("> ")
    while (line != null && line.trim != "quit") {
      try {
        val t = line.trim
        if (t.nonEmpty) t.split("\\s+", 2).toList match {
          case "query" :: rest :: Nil =>
            client.query(rest).foreach { e =>
              println(s"${e.time}\t${e.topic}\t${e.decoded}\t${e.schema}")
            }
          case "append" :: rest :: Nil =>
            rest.split("\\s+", 2) match {
              case Array(topic, data) =>
                val ddl = effectiveDdl(client.listTopics, topic)
                client.append(topic,
                  Codec.encode(FossilSchema.parse(ddl), parseDatum(ddl, data)))
                println("ok")
              case _ =>
                println(commandError(t, "append needs <topic> <data>",
                  t.length, t.length + 1))
            }
          case "create" :: rest :: Nil if rest.startsWith("topic ") =>
            val parts = rest.stripPrefix("topic ").split("\\s+", 2)
            client.create(parts(0), if (parts.length > 1) parts(1) else "string")
            println("ok")
          case "list" :: "topics" :: Nil =>
            client.listTopics.foreach { case (t2, s) => println(s"$t2\t$s") }
          case "list" :: "schemas" :: Nil =>
            client.listTopics.map(_._2).distinct.sorted.foreach(println)
          case "list" :: "databases" :: Nil =>
            client.listDatabases.foreach(println)
          case "stats" :: Nil => client.stats().foreach(println)
          case "metrics" :: Nil => print(client.metricsText())
          case "version" :: Nil => println(client.version)
          case "use" :: db :: Nil => client.use(db.trim); println(s"database changed")
          case _ => println(unrecognized(t, RemoteCommands))
        }
      } catch {
        case e: Exception => println(s"error: ${e.getMessage}")
      }
      line = StdIn.readLine("> ")
    }
    client.close()
  }

  /** Embedded-store loop (serverless `file://` / bare-path shape). */
  private def localLoop(root: String): Unit = {
    val spark = GraftSession.local(4)
    val client = new LocalClient(spark, root)
    var format = "table"
    println(s"graft repl over $root — 'quit' to exit")

    var line = StdIn.readLine("> ")
    while (line != null && line.trim != "quit") {
      try {
        val t = line.trim
        if (t.nonEmpty) t.split("\\s+", 2).toList match {
          case "query" :: rest :: Nil =>
            val df = client.query(rest)
            format match {
              case "csv" | "json" => render(df, format).foreach(println)
              case _ => df.show(50, truncate = false)
            }
          case "append" :: rest :: Nil =>
            rest.split("\\s+", 2) match {
              case Array(topic, data) =>
                // parse per the topic's (possibly inherited) schema — numeric
                // parsing on a string topic would build an ill-typed row
                val ddl = client.engine.catalog.schemaOf(topic)
                  .map(_.ddl).getOrElse("string")
                client.append(topic, parseDatum(ddl, data))
                println("ok")
              case _ =>
                println(commandError(t, "append needs <topic> <data>",
                  t.length, t.length + 1))
            }
          case "create" :: rest :: Nil if rest.startsWith("topic ") =>
            val parts = rest.stripPrefix("topic ").split("\\s+", 2)
            client.createTopic(parts(0), if (parts.length > 1) parts(1) else "string")
            println("ok")
          case "list" :: "topics" :: Nil =>
            client.listTopics.foreach { case (t2, s) => println(s"$t2\t$s") }
          case "list" :: "schemas" :: Nil =>
            client.listSchemas.foreach(println)
          case "stats" :: Nil => client.stats.show(100, truncate = false)
          case "compact" :: Nil =>
            client.compact().foreach { case (g, b, a) => println(s"$g: $b -> $a files") }
          case "format" :: f :: Nil if Set("table", "csv", "json")(f) =>
            format = f; println(s"format=$f")
          case _ =>
            println(unrecognized(t, LocalCommands))
        }
      } catch {
        case e: Exception => println(s"error: ${e.getMessage}")
      }
      line = StdIn.readLine("> ")
    }
    spark.stop()
  }
}
