package graftbench

import java.nio.file.{Files, Path, StandardOpenOption}

import org.apache.spark.sql.Row

/** Answers to be checked against a registry row's DuckDB oracle SQL. The
  * JVM has no DuckDB: each check is appended to `oracle/checks.jsonl` (the
  * SQL, the parquet behind each table it reads, and the answer's columns
  * and rows) and `run.py` runs them after the JVM exits. */
object Oracle {
  def add(work: Path, name: String, sql: String, tables: Map[String, String],
      columns: Seq[String], rows: Seq[Row]): Unit = {
    val f = work.resolve("oracle").resolve("checks.jsonl")
    Files.createDirectories(f.getParent)
    val line = Json.obj("name" -> name, "sql" -> sql, "tables" -> tables,
      "columns" -> columns, "rows" -> rows.map(_.toSeq))
    Files.write(f, (line + "\n").getBytes("UTF-8"),
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)
  }
}
