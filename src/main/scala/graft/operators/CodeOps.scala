package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Source-code curation operators — the code-corpus leg of the
  * training-data pipeline (the StarCoder/CodeLlama-style pass):
  * comment stripping, license detection, and the FIM (fill-in-the-
  * middle) transform. The three deliberately span the implementation
  * ladder this repo uses:
  *
  *   - [[stripComments]] is a per-row forward-scan STATE MACHINE
  *     (strings protect comment markers, block comments span lines) —
  *     imperative per-partition work like [[Markdown]], because a
  *     character-level scanner with cross-line state is not a Column
  *     expression;
  *   - [[licenseOf]] is a pure Column expression (regexp + CASE) —
  *     license headers sit in the first bytes, the match is stateless,
  *     so it belongs INSIDE whole-stage codegen where a filter on the
  *     verdict fuses into the scan;
  *   - the FIM transform is pure substring arithmetic, declared in the
  *     query itself (queries/Llm.scala) — nothing to implement here.
  *
  * Comment-strip semantics (C-family; what CodeOpsSpec and the DuckDB
  * oracle pin):
  *   - `//` starts a line comment (to end of line); slash-star opens
  *     a block comment (non-nesting, to the next star-slash); both
  *     are removed;
  *   - double-quoted string literals (with `\"` and `\\` escapes)
  *     protect their contents — a `//` inside a string is code;
  *     an unterminated string runs to end of line (scan is TOTAL —
  *     source text has no invalid inputs, only surprising ones);
  *   - an unterminated block comment runs to end of input;
  *   - after removal, each line is RIGHT-trimmed, empty lines drop,
  *     survivors join with `\n`.
  */
object CodeOps {

  final case class Stripped(text: String, nLineComments: Int,
      nBlockComments: Int, nStrings: Int, nLinesKept: Int)

  def strip(src: String): Stripped = {
    val out = new StringBuilder(src.length)
    var nLine = 0; var nBlock = 0; var nStr = 0
    var i = 0
    var inBlock = false
    while (i < src.length) {
      val c = src.charAt(i)
      if (inBlock) {
        if (c == '*' && i + 1 < src.length && src.charAt(i + 1) == '/') {
          inBlock = false; i += 2
        } else {
          if (c == '\n') out.append('\n')
          i += 1
        }
      } else if (c == '/' && i + 1 < src.length) {
        src.charAt(i + 1) match {
          case '/' =>
            nLine += 1
            while (i < src.length && src.charAt(i) != '\n') i += 1
          case '*' =>
            nBlock += 1; inBlock = true; i += 2
          case _ => out.append(c); i += 1
        }
      } else if (c == '"') {
        nStr += 1
        out.append(c); i += 1
        var closed = false
        while (!closed && i < src.length && src.charAt(i) != '\n') {
          val d = src.charAt(i)
          out.append(d)
          if (d == '\\' && i + 1 < src.length &&
              src.charAt(i + 1) != '\n') {
            out.append(src.charAt(i + 1)); i += 2
          } else { if (d == '"') closed = true; i += 1 }
        }
      } else { out.append(c); i += 1 }
    }
    val lines = out.toString.split("\n", -1).toSeq
      .map(l => l.replaceAll("\\s+$", "")).filter(_.nonEmpty)
    Stripped(lines.mkString("\n"), nLine, nBlock, nStr, lines.length)
  }

  private val stripSchema = StructType(Seq(
    StructField("id", LongType),
    StructField("text", StringType),
    StructField("n_line_comments", IntegerType),
    StructField("n_block_comments", IntegerType),
    StructField("n_strings", IntegerType),
    StructField("n_lines_kept", IntegerType)))

  /** Per-partition comment stripping over (id, src) rows. */
  def stripComments(df: DataFrame, idCol: String,
      srcCol: String): DataFrame = {
    val idIdx = df.schema.fieldIndex(idCol)
    val srcIdx = df.schema.fieldIndex(srcCol)
    PerDoc.rows(df, stripSchema) { r =>
      val s = strip(r.getString(srcIdx))
      Iterator.single(Row(r.getLong(idIdx), s.text, s.nLineComments,
        s.nBlockComments, s.nStrings, s.nLinesKept))
    }
  }

  /** Closed-form C-family source for doc id d — a header line comment,
    * plain statements, a string containing a `//` the stripper must
    * protect, a block comment spanning two lines, and a trailing line
    * comment. The stripped text has an exact closed form the oracle
    * rebuilds. */
  def synthSrc(d: Long): String =
    s"// h${d % 7}\n" +
      s"int a${d % 5} = ${d % 100};\n" +
      "s = \"p// q" + (d % 9) + "\";\n" +
      s"/* b${d % 3}\n" +
      s"end */ y = ${d % 11};\n" +
      s"z${d % 4}++; // t${d % 6}\n"

  /** ids → (id, src) rows of closed-form source text. */
  def synthDf(ids: DataFrame): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("id", LongType), StructField("src", StringType)))
    PerDoc.walk(ids, outSchema)(d => Iterator.single(Row(d, synthSrc(d))))
  }

  // ---------------------------------------------------------------- //
  // License detection — pure Column expressions
  // ---------------------------------------------------------------- //

  /** An `SPDX-License-Identifier:` tag anywhere in the header wins
    * (normalized to lowercase); otherwise the canonical phrase of each
    * major license family; otherwise 'unknown'. Stateless over the
    * text prefix → stays inside whole-stage codegen, and a
    * `license = 'unknown'` drop-filter fuses into the scan. */
  def licenseOf(src: Column): Column = {
    val spdx = regexp_extract(src,
      "SPDX-License-Identifier:\\s*([A-Za-z0-9.+-]+)", 1)
    when(spdx =!= "", lower(spdx))
      .when(src.contains("Apache License, Version 2.0"), "apache-2.0")
      .when(src.contains("Permission is hereby granted, free of charge"),
        "mit")
      .when(src.contains("GNU General Public License"), "gpl")
      .when(src.contains(
        "Redistribution and use in source and binary forms"),
        "bsd-3-clause")
      .otherwise("unknown")
  }

  /** True iff an explicit SPDX tag is present. */
  def hasSpdx(src: Column): Column =
    src.contains("SPDX-License-Identifier:")
}
