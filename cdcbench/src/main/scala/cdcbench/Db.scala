package cdcbench

import java.sql.{Connection, DriverManager}

import scala.collection.mutable

import graft.sources.Jdbc

/** In-memory embedded Derby databases: the source and the target of every
  * CDC chain live in the benchmark's JVM, as embedded Derby requires, and
  * off the disk, whose contention would swamp the figures. */
object Db {
  Class.forName("org.apache.derby.jdbc.EmbeddedDriver")

  def url(name: String): String = s"jdbc:derby:memory:$name"
  def spec(name: String): Jdbc.ConnectionSpec = Jdbc.ConnectionSpec(url(name), Map.empty)
  def create(name: String): Connection = DriverManager.getConnection(url(name) + ";create=true")
  def connect(name: String): Connection = DriverManager.getConnection(url(name))

  def exec(c: Connection, sql: String): Unit = {
    val st = c.createStatement()
    try st.execute(sql) finally st.close()
  }

  /** `(ID BIGINT PRIMARY KEY, NAME VARCHAR, V DOUBLE)` plus `extra` columns. */
  def createTable(c: Connection, table: String, extra: String = ""): Unit =
    exec(c, s"CREATE TABLE $table (ID BIGINT NOT NULL PRIMARY KEY, " +
      s"NAME VARCHAR(32), V DOUBLE$extra)")

  /** Bulk-loads `(id, name, v)` rows in one transaction. */
  def load(c: Connection, table: String, rows: Iterator[(Long, String, Double)]): Unit = {
    c.setAutoCommit(false)
    val ps = c.prepareStatement(s"INSERT INTO $table (ID, NAME, V) VALUES (?, ?, ?)")
    var n = 0
    rows.foreach { case (id, name, v) =>
      ps.setLong(1, id); ps.setString(2, name); ps.setDouble(3, v); ps.addBatch()
      n += 1
      if (n % 5000 == 0) ps.executeBatch()
    }
    ps.executeBatch(); ps.close()
    c.commit(); c.setAutoCommit(true)
  }

  def rows(c: Connection, table: String): Map[Long, (String, Double)] = {
    val st = c.createStatement()
    try {
      val rs = st.executeQuery(s"SELECT ID, NAME, V FROM $table")
      val m = mutable.HashMap.empty[Long, (String, Double)]
      while (rs.next()) m(rs.getLong(1)) = (rs.getString(2), rs.getDouble(3))
      m.toMap
    } finally st.close()
  }

  def scalar(c: Connection, sql: String): Long = {
    val st = c.createStatement()
    try { val rs = st.executeQuery(sql); rs.next(); rs.getLong(1) } finally st.close()
  }

  /** Compares the target's rows with the model: each row missing, extra or
    * different counts as one failure. Returns the failures. */
  def mismatches(target: Map[Long, (String, Double)], model: collection.Map[Long, (String, Double)]): Long = {
    val missingOrWrong = model.count { case (k, v) => !target.get(k).contains(v) }
    val extra = target.keysIterator.count(k => !model.contains(k))
    (missingOrWrong + extra).toLong
  }

  /** Test hook: changes one target row, so verification must flag it. */
  def corruptOne(c: Connection, table: String): Unit =
    exec(c, s"UPDATE $table SET V = V + 1 WHERE ID = (SELECT MIN(ID) FROM $table)")

  /** A deterministic, well-mixed 64-bit value for `(seed, i)` (SplitMix64). */
  def mix(seed: Long, i: Long): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + i * 0xBF58476D1CE4E5B9L + 0x94D049BB133111EBL
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** The `(name, v)` image generated for row `id`, version `ver`. */
  def image(seed: Long, id: Long, ver: Long = 0L): (String, Double) = {
    val h = mix(seed ^ (ver * 0x632BE59BD9B4E019L), id)
    (s"n${java.lang.Long.toHexString(h & 0xffffffffL)}", ((h >>> 40) % 1000000L) / 100.0)
  }
}
