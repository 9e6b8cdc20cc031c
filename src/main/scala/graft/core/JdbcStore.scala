package graft.core

import java.sql.{Connection, DriverManager, PreparedStatement, Types}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types._
import scala.collection.mutable

/** Transactional JDBC backend (embedded Derby) behind the `Store` seam —
  * the deployment shape of the reference's EF/Postgres unit-of-work
  * (`EfBlockUnitOfWork.cs:18-247`): data rows, checkpoints, and the
  * commit marker all land through one database, with visibility gated by
  * the marker.
  *
  * Commit protocol (crash-safe without multi-statement DDL coordination):
  *  1. data rows are appended tagged with a `_batch` column via Spark
  *     JDBC (executor-parallel writes — NOT yet visible: readers filter
  *     `_batch <= max(committed)`);
  *  2. one driver-side JDBC transaction replaces the checkpoint rows and
  *     inserts the commit marker `graft_commits(batch_id)` — the atomic
  *     point, exactly the reference's data+state single transaction (T3);
  *  3. a crash between 1 and 2 leaves orphan rows with `_batch` above
  *     the marker — invisible to readers and deleted when the batch id
  *     is retried (idempotent at-least-once replay).
  *
  * Rollback (T5) runs entirely in one transaction: slot-keyed deletes on
  * every user table + checkpoint rewind + marker. Retraction here is
  * sargable via the database's own indexes — the reference's
  * `HasIndex(SpentSlot)` analogue (P9) — so no `compactWith` filter is
  * needed; at 100 TB the segment-log `StateStore` is the scale path and
  * this backend is the serving/ops-database path, mirroring how the
  * reference pairs Postgres with its design's scale notes.
  *
  * SINGLE WRITER REQUIRED (like the reference's Postgres backend behind
  * its advisory lock, T13): the commit-marker primary key stops a racing
  * writer from double-committing a batch id, but the loser's already-
  * appended data rows would share the winner's (now visible) `_batch`
  * tag. `ChainIngest.start`/`Rewind` acquire the store lock; direct
  * GraphRunner embedders must do the same.
  */
object JdbcStore {
  // Engine-wide Derby tuning, set before the first connection boots the
  // embedded engine: 4k-page cache x 4000 = ~16 MB (default 1000 pages
  // starves the index lookups the visibility filter and rollback rely on).
  private lazy val tuneDerby: Unit = {
    if (System.getProperty("derby.storage.pageCacheSize") == null)
      System.setProperty("derby.storage.pageCacheSize", "4000")
    // 1 MB log buffer (default 32 KB): a 500-block commit writes several
    // hundred KB of log; the default flushes it in 32 KB slices inside
    // the txn body. Durability is unchanged — the commit still fsyncs —
    // this only batches the pre-commit log writes, the embedded analogue
    // of Postgres's MB-scale wal_buffers default.
    if (System.getProperty("derby.storage.logBufferSize") == null)
      System.setProperty("derby.storage.logBufferSize", "1048576")
  }
}

final class JdbcStore(val root: String, spark: SparkSession) extends Store {
  JdbcStore.tuneDerby

  private val url = s"jdbc:derby:$root/derby;create=true"
  private val props = new java.util.Properties()
  // Executor-side write shape: statement batches of 5000 (default 1000)
  // and a bounded number of writer connections. Embedded Derby serializes
  // page writes anyway, so 32 one-row-commit tasks are pure overhead —
  // a handful of fat partitions each commit once. Against a server-grade
  // backend (the reference's Postgres) raise graft.jdbc.writeParts.
  private val writeParts: Int =
    spark.conf.getOption("graft.jdbc.writeParts").map(_.toInt)
      .getOrElse(math.min(4, math.max(1,
        spark.sparkContext.defaultParallelism)))
  private val writeProps = new java.util.Properties()
  writeProps.setProperty("batchsize", "5000")
  writeProps.setProperty("numPartitions", writeParts.toString)

  /** One persistent driver-side connection for all metadata/txn work —
    * commit markers, checkpoints, cleanup — instead of a fresh embedded
    * boot-handshake per statement. Single-writer (T13) makes this safe;
    * executor write tasks still open their own connections.
    */
  private lazy val conn: Connection = DriverManager.getConnection(url)
  private def withConn[A](f: Connection => A): A = synchronized {
    val saved = conn.getAutoCommit
    var restore = true
    try f(conn)
    catch { case e: Throwable =>
      // a failed transactional block must not be committed by the
      // autocommit restore below (JDBC: enabling autocommit COMMITS an
      // open transaction) — roll anything in flight back first, and if
      // even that fails leave autocommit alone rather than commit junk.
      // The WHOLE attempt (getAutoCommit included) runs inside its own
      // try: on a dead/broken connection getAutoCommit itself throws,
      // and that secondary failure must suppress onto the original
      // exception, not replace it.
      try { if (!conn.getAutoCommit) conn.rollback() }
      catch { case e2: Throwable => restore = false; e.addSuppressed(e2) }
      throw e
    } finally if (restore) conn.setAutoCommit(saved)
  }

  /** The SQL dialect behind all generated DDL/type mapping
    * ([[SqlDialect]]): Derby is the embedded runner; `postgres` emits
    * the reference deployment's DDL (golden-pinned by SqlDialectSpec).
    */
  private val dialect: SqlDialect = SqlDialect.forName(
    spark.conf.getOption("graft.jdbc.dialect").getOrElse("derby"))

  private def q(ident: String): String = dialect.quote(ident)

  // bootstrap the framework tables
  withConn { c =>
    val existing = listTables(c)
    val st = c.createStatement()
    try {
      if (!existing.contains("graft_commits"))
        st.executeUpdate(dialect.commitsDdl)
      if (!existing.contains("graft_checkpoints"))
        st.executeUpdate(dialect.checkpointsDdl)
      if (!existing.contains("graft_tables"))
        // per-table retraction column, persisted at first write: a later
        // rollback from a subset-registered runner must know every
        // table's slot column (same role as StateStore manifest slotCols)
        st.executeUpdate(dialect.tablesDdl)
    } finally st.close()
  }

  private def storedSlotCols: Map[String, String] = withConn { c =>
    val st = c.createStatement()
    try {
      val rs = st.executeQuery(
        s"SELECT tbl, slot_col FROM ${q("graft_tables")}")
      val acc = mutable.Map[String, String]()
      while (rs.next()) acc += rs.getString(1) -> rs.getString(2)
      acc.toMap
    } finally st.close()
  }

  private val registeredCols = mutable.Map[String, String]()

  /** In-transaction registration on the CALLER'S connection — the
    * driver-commit path, where the INSERT must commit atomically with
    * the data it describes. Duplicate key = already registered.
    */
  private def registerSlotColIn(c: Connection, table: String,
      slotCol: String): Unit =
    if (!registeredCols.contains(table)) {
      val ps = c.prepareStatement(
        s"INSERT INTO ${q("graft_tables")} VALUES (?, ?)")
      try { ps.setString(1, table); ps.setString(2, slotCol); ps.executeUpdate() }
      catch { case _: java.sql.SQLIntegrityConstraintViolationException => () }
      finally ps.close()
    }

  private def registerSlotCol(table: String, slotCol: String): Unit =
    if (!registeredCols.contains(table)) {
      // ONE spelling of the INSERT + duplicate-key-swallow (r08
      // review): the driver-commit and standalone paths must not drift
      withConn(c => registerSlotColIn(c, table, slotCol))
      registeredCols += table -> slotCol
    }

  private def listTables(c: Connection): Set[String] = {
    val rs = c.getMetaData.getTables(null, null, "%", Array("TABLE"))
    val names = mutable.Set[String]()
    // exclude catalogs by SCHEMA, not by name prefix: a user table
    // legitimately named SYS-something must stay in the registry (it
    // needs orphan cleanup and rollback like any other); Derby system
    // tables live in the SYS schema and are type SYSTEM TABLE anyway
    while (rs.next())
      if (rs.getString("TABLE_SCHEM") != "SYS")
        names += rs.getString("TABLE_NAME")
    rs.close()
    names.toSet
  }

  // User-table registry, seeded from the database at construction and
  // extended as tables are created. Single-writer (T13) makes the cache
  // sound: no other process creates tables while this store holds the
  // root, and a metadata scan per commit is not free in Derby.
  private val userTableCache: mutable.Set[String] =
    mutable.Set(withConn(listTables).filterNot(_.startsWith("graft_"))
      .toSeq: _*)
  private def userTables(c: Connection): Set[String] = userTableCache.toSet

  // positive-only existence cache (tables are never dropped)
  private val knownTables = mutable.Set[String]()
  private def tableExists(t: String): Boolean =
    knownTables.contains(t) || {
      val e = withConn(c => listTables(c).contains(t))
      if (e) knownTables += t
      e
    }

  // the committed id can only move at this single-writer store's own
  // commit/rollback (T13), yet every state read re-probed it — and
  // graft_commits grows one row per batch forever, so the probe was a
  // repeated index walk on the hot path (r08 review). Cached between
  // our own state changes; invalidated, not updated, so a reopen or a
  // first read always sees the database's truth.
  @volatile private var cachedBatchId: Option[Long] = None

  def batchId: Long = cachedBatchId.getOrElse {
    val v = withConn { c =>
      val st = c.createStatement()
      try {
        val rs = st.executeQuery(
          s"SELECT MAX(batch_id) FROM ${q("graft_commits")}")
        rs.next()
        val got = rs.getLong(1)
        if (rs.wasNull()) -1L else got
      } finally st.close()
    }
    cachedBatchId = Some(v)
    v
  }

  def checkpoints: Map[String, Seq[Point]] = withConn { c =>
    val st = c.createStatement()
    try {
      val rs = st.executeQuery(
        s"SELECT reducer, hash, slot FROM ${q("graft_checkpoints")}")
      val acc = mutable.Map[String, mutable.ArrayBuffer[Point]]()
      while (rs.next())
        acc.getOrElseUpdate(rs.getString(1), mutable.ArrayBuffer.empty) +=
          Point(rs.getString(2), rs.getLong(3))
      acc.view.mapValues(ps => CheckpointWindow.normalize(ps.toSeq)).toMap
    } finally st.close()
  }

  private def emptyDf(schema: StructType): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)

  private def getParam(rs: java.sql.ResultSet, idx: Int,
      dt: DataType): Any = {
    val v: Any = dt match {
      case StringType => rs.getString(idx)
      case LongType => rs.getLong(idx)
      case IntegerType => rs.getInt(idx)
      case DoubleType => rs.getDouble(idx)
      case FloatType => rs.getFloat(idx)
      case BooleanType => rs.getBoolean(idx)
      case BinaryType => rs.getBytes(idx)
      case TimestampType => rs.getTimestamp(idx)
      case DateType => rs.getDate(idx)
      case ShortType => rs.getShort(idx)
      case ByteType => rs.getShort(idx).toByte
      case _: DecimalType => rs.getBigDecimal(idx)
      case other =>
        throw new IllegalArgumentException(s"unsupported JDBC read type $other")
    }
    if (rs.wasNull()) null else v
  }

  /** Driver-side read: one ResultSet → a LOCAL relation. The serving-DB
    * state a reducer re-reads each batch is bounded (latest segment /
    * live set), so skipping the per-read Spark JDBC job + schema probe
    * is pure win — and a local relation is broadcast-join fodder for
    * Catalyst. Tables too big for this belong on the segment store or
    * behind `graft.jdbc.driverCommit=false` (executor-parallel scans).
    */
  private def driverRead(table: String, schema: StructType,
      where: String): DataFrame = {
    val cols = schema.fields.map(f => q(f.name)).mkString(", ")
    val rows = withConn { c =>
      val st = c.createStatement()
      try {
        val rs = st.executeQuery(
          s"SELECT $cols FROM ${q(table)} WHERE $where")
        val buf = new java.util.ArrayList[Row]()
        while (rs.next()) buf.add(Row.fromSeq(
          schema.fields.toSeq.zipWithIndex.map { case (f, i) =>
            getParam(rs, i + 1, f.dataType)
          }))
        buf
      } finally st.close()
    }
    spark.createDataFrame(rows, schema)
  }

  private def latestBatchOf(table: String, committed: Long): Long =
    withConn { c =>
      val st = c.createStatement()
      try {
        val rs = st.executeQuery(
          s"SELECT MAX(${q("_batch")}) FROM ${q(table)} " +
            s"WHERE ${q("_batch")} <= $committed")
        rs.next()
        val v = rs.getLong(1)
        if (rs.wasNull()) -1L else v
      } finally st.close()
    }

  private def readCommitted(table: String, schema: StructType,
      latestOnly: Boolean): DataFrame = {
    if (!tableExists(table)) emptyDf(schema)
    else {
      val committed = batchId
      if (driverCommit) {
        val where =
          if (latestOnly) {
            val latest = latestBatchOf(table, committed)
            if (latest < 0) return emptyDf(schema)
            s"${q("_batch")} = $latest"
          } else s"${q("_batch")} <= $committed"
        driverRead(table, schema, where)
      } else {
        // Spark-side predicate: backtick-quoted identifiers (double
        // quotes are string literals in Spark SQL); pushed down to
        // Derby by the JDBC source.
        val pred =
          if (latestOnly) {
            val latest = latestBatchOf(table, committed)
            if (latest < 0) return emptyDf(schema)
            s"`_batch` = $latest"
          } else s"`_batch` <= $committed"
        spark.read.jdbc(url, q(table), props).filter(pred)
          .select(schema.fields.toSeq.map(f =>
            col(f.name).cast(f.dataType).as(f.name)): _*)
      }
    }
  }

  def read(table: String, schema: StructType): DataFrame =
    readCommitted(table, schema, latestOnly = false)

  def readLatestSegment(table: String, schema: StructType): DataFrame =
    readCommitted(table, schema, latestOnly = true)

  /** Secondary indexes on `_batch` (visibility filter) and the slot
    * column (rollback deletes) — the reference's P9 sargability
    * (`TestDbContext.cs:36-37` `HasIndex(SpentSlot)`). Created lazily
    * after the table exists; best-effort (Derby errors if present).
    */
  private val indexed = mutable.Set[String]()
  private def ensureIndexes(table: String, slotCol: String): Unit =
    if (!indexed.contains(table)) {
      withConn { c =>
        Seq("_batch" -> s"ix_${table}_batch", slotCol -> s"ix_${table}_slot")
          .foreach { case (column, ix) =>
            val st = c.createStatement()
            try st.executeUpdate(dialect.createIndex(ix, table, Seq(column)))
            catch { case _: Exception => () }
            finally st.close()
          }
      }
      indexed += table
    }

  // ---- driver-batched commit (default): the reference's unit-of-work
  // shape (`EfBlockUnitOfWork.cs:94-121`) — every table's rows, the
  // checkpoint rewrite, and the commit marker in ONE database
  // transaction (one log fsync per batch, truly atomic, no orphan
  // phase). Plan execution (collect) happens before the txn opens; a
  // micro-batch's rows are bounded by the trigger size, so the driver
  // hop is the deployment shape here exactly as it is in the reference.
  // For appends too large for the driver, `graft.jdbc.driverCommit=
  // false` switches to executor-parallel Spark JDBC writes gated by the
  // marker (the two-phase protocol in the header comment).

  private val driverCommit: Boolean =
    spark.conf.getOption("graft.jdbc.driverCommit").forall(_.toBoolean)

  override def preferLocalOutputs: Boolean = driverCommit

  // DDL/JDBC type mapping lives in the dialect (see its doc for the
  // Derby VARCHAR-not-CLOB and setNull rationales). Both commit modes
  // create tables through `ensureTable`, so the mapping stays
  // interchangeable.
  private def jdbcTypeCode(dt: DataType): Int = dialect.jdbcTypeCode(dt)

  private def setParam(ps: PreparedStatement, idx: Int, dt: DataType,
      v: Any): Unit =
    if (v == null) ps.setNull(idx, jdbcTypeCode(dt))
    else dt match {
      case StringType => ps.setString(idx, v.asInstanceOf[String])
      case LongType => ps.setLong(idx, v.asInstanceOf[Long])
      case IntegerType => ps.setInt(idx, v.asInstanceOf[Int])
      case DoubleType => ps.setDouble(idx, v.asInstanceOf[Double])
      case FloatType => ps.setFloat(idx, v.asInstanceOf[Float])
      case BooleanType => ps.setBoolean(idx, v.asInstanceOf[Boolean])
      case BinaryType => ps.setBytes(idx, v.asInstanceOf[Array[Byte]])
      case TimestampType => ps.setTimestamp(idx, v.asInstanceOf[java.sql.Timestamp])
      case DateType => ps.setDate(idx, v.asInstanceOf[java.sql.Date])
      case ShortType => ps.setShort(idx, v.asInstanceOf[Short])
      case ByteType => ps.setShort(idx, v.asInstanceOf[Byte].toShort)
      case _: DecimalType =>
        ps.setBigDecimal(idx, v.asInstanceOf[java.math.BigDecimal])
      case other =>
        throw new IllegalArgumentException(s"unsupported JDBC param type $other")
    }

  private def ensureTable(c: Connection, table: String,
      schema: StructType,
      created: mutable.Buffer[String] = mutable.Buffer.empty): Unit =
    if (!tableExists(table)) {
      val st = c.createStatement()
      try st.executeUpdate(dialect.createUserTable(table, schema))
      finally st.close()
      knownTables += table
      userTableCache += table
      created += table // caller repairs the caches if its txn rolls back
    }

  private def insertRows(c: Connection, table: String, schema: StructType,
      rows: Iterable[Row], batchOf: Row => Long): Unit = {
    val names = schema.fields.map(f => q(f.name)) :+ q("_batch")
    val ps = c.prepareStatement(
      s"INSERT INTO ${q(table)} (${names.mkString(", ")}) VALUES (${
        names.map(_ => "?").mkString(", ")})")
    try {
      var pending = 0
      rows.foreach { row =>
        schema.fields.zipWithIndex.foreach { case (f, i) =>
          setParam(ps, i + 1, f.dataType, row.get(i))
        }
        ps.setLong(schema.fields.length + 1, batchOf(row))
        ps.addBatch(); pending += 1
        if (pending >= 5000) { ps.executeBatch(); pending = 0 }
      }
      if (pending > 0) ps.executeBatch()
    } finally ps.close()
  }

  /** Live-set compaction for the DB backend — the Derby analogue of
    * StateStore's segment-fold compaction: every `graft.jdbc.
    * compactEvery` commits (default 8), each table with a registered
    * compactor is rewritten to only the rows its `compactWith` filter
    * keeps (e.g. utxo_created drops pairs whose spend is final behind
    * the rollback frontier). Runs INSIDE the commit transaction, so it
    * is atomic with the batch and replay-safe; rows keep their original
    * `_batch` tag so visibility and idempotent-replay cleanup are
    * untouched. Without this the spend-matching read grows O(chain) —
    * the reference leans on `HasIndex(SpentSlot)` sargability (P9), but
    * an index does not shrink the scan the way the live set does.
    */
  private val compactEvery: Long =
    spark.conf.getOption("graft.jdbc.compactEvery").map(_.toLong)
      .getOrElse(8L)

  /** Rows the most recent compaction buffered on the driver: 0 whenever
    * every compactor ran as in-database SQL (the declarative shapes).
    * Specs assert this stays 0 for the UTxO compactors — the guard
    * against reintroducing an O(live-set) driver allocation.
    */
  @volatile private[graft] var lastCompactionBufferedRows: Long = 0L

  /** Best-effort index on the key columns a compaction DELETE probes —
    * the analogue of the reference's `HasIndex(SpentSlot)` (P9) for the
    * EXISTS lookup side. Derby warns (and only fails per-row at insert)
    * if a key exceeds the index limit; failures here are non-fatal.
    */
  private val keyIndexed = mutable.Set[String]()
  private def ensureKeyIndex(c: Connection, table: String,
      keyCols: Seq[String]): Unit =
    if (!keyIndexed.contains(table)) {
      val st = c.createStatement()
      try st.executeUpdate(
        dialect.createIndex(s"ix_${table}_cmpkey", table, keyCols))
      catch { case _: Exception => () }
      finally st.close()
      keyIndexed += table
    }

  /** Stage a `Compaction.Custom` rewrite as a SPARK plan (r10 verdict
    * #3): the old path buffered the whole table through the driver
    * (O(table) driver memory, tracked by `lastCompactionBufferedRows`
    * and flagged as the backend's one unbounded driver allocation). Now
    * the custom fn runs over `committed rows (Spark JDBC scan, filter
    * pushed to the database) ∪ this commit's appends` BEFORE the
    * transaction opens, its survivors land executor-parallel in a
    * `graft_cstage_*` scratch table, and the in-txn step
    * ([[compactTables]]) is one set-based DELETE + INSERT…SELECT swap —
    * zero driver residency, O(live set) database work, same replay
    * safety (`_batch` provenance rides through the stage).
    *
    * This also retires the old in-txn lock hazard: the fn's reads of
    * OTHER store tables now execute with no transaction open, so they
    * can never block on this commit's own write locks.
    *
    * Stage tables are `graft_`-prefixed, so the user-table registry
    * (orphan cleanup, rollback) never sees them; a crashed attempt's
    * leftover stage is dropped and rebuilt on retry, and successful
    * commits drop their stages best-effort afterwards.
    *
    * `visibleThrough`: the highest `_batch` the committed scan may see —
    * the previous marker in driver-commit mode (this batch's rows are
    * not in the database yet; they arrive via `appends`), the current
    * batch id in executor mode (phase-1 rows are already durable).
    */
  private def stageCustomCompactions(
      compactors: Map[String, BoundCompactor],
      appends: Map[String, DataFrame],
      visibleThrough: Long,
      newBatch: Long): Map[String, String] =
    compactors.collect { case (table, comp) if comp.sql.isEmpty &&
        (tableExists(table) || appends.contains(table)) =>
      val withBatch = comp.schema.add("_batch", LongType)
      def shaped(df: DataFrame): DataFrame =
        df.select(withBatch.fields.toSeq.map(f =>
          col(f.name).cast(f.dataType).as(f.name)): _*)
      val committed =
        if (tableExists(table))
          shaped(spark.read.jdbc(url, q(table), props)
            .filter(s"`_batch` <= $visibleThrough"))
        else emptyDf(withBatch)
      val merged = appends.get(table) match {
        case Some(df) =>
          committed.unionByName(shaped(df.withColumn("_batch", lit(newBatch))))
        case None => committed
      }
      val kept = comp.run(merged)
      // CROSS-BACKEND CONTRACT (r08 review): on this backend the custom
      // fn receives — and must PRESERVE — the trailing _batch column
      // (survivor rows keep their batch provenance). The segment store
      // passes the bare declared schema; a fn that projects _batch away
      // fails loudly here with the contract instead of corrupting reads.
      require(kept.columns.toSeq == withBatch.fields.map(_.name).toSeq,
        s"Compaction.Custom on $table must preserve the declared columns " +
          s"plus the trailing _batch on the JDBC backend: got " +
          s"[${kept.columns.mkString(", ")}]")
      val stage = s"graft_cstage_$table"
      withConn { c =>
        val st = c.createStatement()
        try st.executeUpdate(s"DROP TABLE ${q(stage)}")
        catch { case _: Exception => () } finally st.close()
        val st2 = c.createStatement()
        // createUserTable appends the _batch column itself
        try st2.executeUpdate(dialect.createUserTable(stage, comp.schema))
        finally st2.close()
      }
      kept.write.mode("append").jdbc(url, q(stage), writeProps)
      table -> stage
    }

  /** Best-effort post-commit cleanup of [[stageCustomCompactions]]'
    * scratch tables (a leftover stage is harmless — the next cycle
    * drops and rebuilds it).
    */
  private def dropStages(stages: Map[String, String]): Unit =
    if (stages.nonEmpty) withConn { c =>
      stages.values.foreach { s =>
        val st = c.createStatement()
        try st.executeUpdate(s"DROP TABLE ${q(s)}")
        catch { case _: Exception => () } finally st.close()
      }
    }

  /** Live-set compaction, run INSIDE the commit transaction (atomic with
    * the batch, replay-safe; surviving rows keep their `_batch` tag so
    * visibility and idempotent-replay cleanup are untouched).
    *
    * The declarative shapes (`DropMatched`/`DropUnmatched`) execute as
    * ONE set-based DELETE each — the database does the anti/semi join,
    * the driver buffers nothing, and on a server-grade backend the same
    * statement is a hash anti-join. `Compaction.Custom` arrives here as
    * a pre-staged survivor table ([[stageCustomCompactions]]) and swaps
    * in with one DELETE + INSERT…SELECT — also zero driver memory.
    */
  private def compactTables(c: Connection,
      compactors: Map[String, BoundCompactor],
      stages: Map[String, String]): Unit = {
    lastCompactionBufferedRows = 0L
    compactors.toSeq.foreach { case (table, comp) =>
      if (tableExists(table)) comp.sql match {
        case Some(sc) if tableExists(sc.againstTable) =>
          ensureKeyIndex(c, sc.againstTable, sc.keyCols)
          val probe = sc.keyCols
            .map(k => s"a.${q(k)} = ${q(table)}.${q(k)}").mkString(" AND ")
          val stmt =
            if (sc.dropMatched)
              s"DELETE FROM ${q(table)} WHERE EXISTS (SELECT 1 FROM " +
                s"${q(sc.againstTable)} a WHERE $probe AND " +
                s"a.${q(sc.slotCol)} <= ${sc.frontier})"
            else
              s"DELETE FROM ${q(table)} WHERE " +
                s"${q(table)}.${q(sc.slotCol)} <= ${sc.frontier} AND " +
                s"NOT EXISTS (SELECT 1 FROM ${q(sc.againstTable)} a " +
                s"WHERE $probe)"
          val st = c.createStatement()
          try st.executeUpdate(stmt) finally st.close()
        case Some(sc) if !sc.dropMatched =>
          // against-table absent: every final row is unmatched
          val st = c.createStatement()
          try st.executeUpdate(s"DELETE FROM ${q(table)} WHERE " +
            s"${q(table)}.${q(sc.slotCol)} <= ${sc.frontier}")
          finally st.close()
        case Some(_) => () // DropMatched with no against-table: keep all
        case None => stages.get(table).foreach { stage =>
          // pre-staged Custom survivors: one set-based swap, all rows
          // stay database-side (zero driver residency)
          val cols = (comp.schema.fields.map(f => q(f.name)) :+ q("_batch"))
            .mkString(", ")
          val st = c.createStatement()
          try {
            st.executeUpdate(s"DELETE FROM ${q(table)}")
            st.executeUpdate(s"INSERT INTO ${q(table)} ($cols) " +
              s"SELECT $cols FROM ${q(stage)}")
          } finally st.close()
        }
      }
    }
  }

  /** Replace the committing runner's checkpoint windows within an open
    * transaction. MERGE semantics (like StateStore's `stored ++
    * checkpoints`): reducers not registered with this runner survive.
    */
  private def writeCheckpoints(c: Connection,
      checkpoints: Map[String, Seq[Point]]): Unit = {
    val del = c.prepareStatement(
      s"DELETE FROM ${q("graft_checkpoints")} WHERE reducer = ?")
    try checkpoints.keys.foreach { r =>
      del.setString(1, r); del.executeUpdate()
    } finally del.close()
    val ps = c.prepareStatement(
      s"INSERT INTO ${q("graft_checkpoints")} VALUES (?, ?, ?)")
    try {
      checkpoints.foreach { case (r, pts) =>
        pts.foreach { p =>
          ps.setString(1, r); ps.setString(2, p.hash); ps.setLong(3, p.slot)
          ps.addBatch()
        }
      }
      ps.executeBatch()
    } finally ps.close()
  }

  def commit(batchId: Long, appends: Map[String, (DataFrame, String)],
      checkpoints: Map[String, Seq[Point]],
      compactors: Map[String, BoundCompactor],
      onSegment: (String, Double) => Unit): Boolean = {
    val committed = this.batchId
    if (batchId <= committed) return false
    if (driverCommit) {
      // Spark actions run BEFORE the txn opens (reads see only
      // committed state; nothing below touches the plan). The per-table
      // plans are independent — run them as CONCURRENT Spark actions so
      // scheduler latency overlaps instead of summing (the reference
      // runs its reducers' RollForwardAsync concurrently too).
      val collected = Overlap.all(
        appends.toSeq.map { case (table, (df, slotCol)) => () =>
          // clock the collect INSIDE the leg: a shared t0 would charge
          // every table for its slowest sibling plus the serialized
          // inserts ahead of it in the txn loop below
          val t0 = System.nanoTime()
          val rows = df.collect()
          (table, slotCol, df.schema, rows, (System.nanoTime() - t0) / 1e9)
        })
      if (collected.forall(_._4.isEmpty)) return false
      // Custom-compaction staging is a SPARK action set too — runs with
      // the txn still closed (committed scan ∪ this batch's collected
      // rows as a local relation); the txn below only swaps
      val stages: Map[String, String] =
        if (compactEvery > 0 && batchId % compactEvery == 0)
          stageCustomCompactions(compactors,
            collected.map { case (t, _, schema, rows, _) =>
              t -> spark.createDataFrame(
                java.util.Arrays.asList(rows: _*), schema)
            }.toMap,
            visibleThrough = committed, newBatch = batchId)
        else Map.empty
      withConn { c =>
        c.setAutoCommit(false)
        val createdThisTxn = mutable.Buffer[String]()
        try {
          // retried-batch cleanup joins the same txn: orphans can only
          // exist from a crashed EXECUTOR-mode attempt at this id
          userTables(c).foreach { t =>
            val st = c.createStatement()
            try st.executeUpdate(
              s"DELETE FROM ${q(t)} WHERE ${q("_batch")} >= $batchId")
            finally st.close()
          }
          collected.foreach { case (table, slotCol, schema, rows, collectSec) =>
            val t1 = System.nanoTime()
            ensureTable(c, table, schema, createdThisTxn)
            if (rows.nonEmpty) insertRows(c, table, schema, rows, _ => batchId)
            // the graft_tables registration JOINS the commit txn: a
            // crash between commit and a post-commit INSERT left a
            // durable data-bearing table unregistered, making a later
            // subset-registered rollback guess (or fail on) its
            // retraction column (r07 review)
            registerSlotColIn(c, table, slotCol)
            onSegment(table, collectSec + (System.nanoTime() - t1) / 1e9)
          }
          if (compactEvery > 0 && batchId % compactEvery == 0)
            compactTables(c, compactors, stages)
          writeCheckpoints(c, checkpoints)
          val st = c.createStatement()
          try st.executeUpdate(
            s"INSERT INTO ${q("graft_commits")} VALUES ($batchId)")
          finally st.close()
          c.commit() // the atomic point — data + state + marker together
          cachedBatchId = None // the committed id just moved
        } catch {
          case e: Throwable =>
            c.rollback()
            // Derby DDL is transactional: the rollback just UNDID any
            // CREATE TABLE from this txn, so the existence caches must
            // forget them — a poisoned cache made every later commit
            // DELETE from a phantom table forever (r07 review)
            createdThisTxn.foreach { t =>
              knownTables -= t; userTableCache -= t
            }
            throw e
        }
      }
      // indexes + caches + stage cleanup only after the durable commit
      // (dropStages on its own autocommit connection state — running it
      // inside the marker txn block would leave the DROPs riding the
      // autocommit restore)
      dropStages(stages)
      collected.foreach { case (table, slotCol, _, _, _) =>
        ensureIndexes(table, slotCol)
        registeredCols += table -> slotCol
      }
      return true
    }
    // executor-parallel mode: data rows land outside the txn, invisible
    // until the marker (two-phase; see class header). NOT idempotent
    // under task RE-execution: a speculative duplicate of a partition
    // that already committed its JDBC txn inserts its rows twice under
    // this batch's own tag, and the orphan cleanup never removes rows
    // of a SUCCESSFUL batch — refuse the configuration outright (r07
    // review)
    require(!spark.conf.getOption("spark.speculation")
        .exists(_.equalsIgnoreCase("true")),
      "executor-parallel JDBC mode is not idempotent under speculative " +
        "task re-execution; disable spark.speculation or use " +
        "driver-commit mode")
    withConn { c =>
      userTables(c).foreach { t =>
        val st = c.createStatement()
        try st.executeUpdate(
          s"DELETE FROM ${q(t)} WHERE ${q("_batch")} >= $batchId")
        finally st.close()
      }
    }
    appends.foreach { case (table, (df, slotCol)) =>
      val t0 = System.nanoTime()
      // pre-create through our own DDL (not the Spark JDBC writer's
      // dialect) so both commit modes share the VARCHAR/index layout
      withConn(c => ensureTable(c, table, df.schema))
      df.withColumn("_batch", lit(batchId))
        .write.mode("append").jdbc(url, q(table), writeProps)
      ensureIndexes(table, slotCol)
      registerSlotCol(table, slotCol)
      onSegment(table, (System.nanoTime() - t0) / 1e9)
    }
    // Empty-commit deferral (T4) needs "did ANY table get a row?": one
    // indexed existence probe per table against the _batch tag. (An
    // `Observation` on the write plan does not fire for V1 JDBC writes
    // on this Spark line — metrics silently stay null, which would
    // defer EVERY commit.)
    val wroteAny = appends.keys.exists { table =>
      withConn { c =>
        val st = c.createStatement()
        try {
          val rs = st.executeQuery(s"SELECT 1 FROM ${q(table)} WHERE " +
            s"${q("_batch")} = $batchId FETCH FIRST 1 ROWS ONLY")
          try rs.next() finally rs.close()
        } finally st.close()
      }
    }
    if (!wroteAny) return false
    // phase-1 rows are durable, so the committed scan sees them at
    // `_batch <= batchId`; staging runs before the marker txn opens
    val stages: Map[String, String] =
      if (compactEvery > 0 && batchId % compactEvery == 0)
        stageCustomCompactions(compactors, Map.empty,
          visibleThrough = batchId, newBatch = batchId)
      else Map.empty
    withConn { c =>
      c.setAutoCommit(false)
      val st = c.createStatement()
      try {
        // same cadence as driver-commit mode: the set-based compaction
        // DELETEs join the marker transaction, so executor-parallel
        // deployments get bounded live-set state too
        if (compactEvery > 0 && batchId % compactEvery == 0)
          compactTables(c, compactors, stages)
        writeCheckpoints(c, checkpoints)
        st.executeUpdate(
          s"INSERT INTO ${q("graft_commits")} VALUES ($batchId)")
        c.commit()
        cachedBatchId = None // the committed id just moved
      } catch { case e: Throwable => c.rollback(); throw e }
      finally st.close()
    }
    dropStages(stages) // after the durable commit, own autocommit txn
    true
  }

  def rollback(delSlot: Long, slotCols: Map[String, String],
      checkpoints: Map[String, Seq[Point]]): Unit = {
    val next = batchId + 1
    withConn { c =>
      c.setAutoCommit(false)
      val st = c.createStatement()
      try {
        val stored = storedSlotCols
        userTables(c).foreach { t =>
          // crashed-attempt orphans first: a phase-1 append above the
          // committed marker (executor mode, crash before phase 2) is
          // invisible NOW but the marker this rollback inserts is the
          // orphans' own batch id — without this delete they'd become
          // visible and no retried-batch cleanup would ever reach them
          st.executeUpdate(
            s"DELETE FROM ${q(t)} WHERE ${q("_batch")} >= $next")
          // stored registry wins (a subset-registered runner doesn't
          // know other tables' retraction columns)
          val slotCol = stored.getOrElse(t, slotCols.getOrElse(t, "slot"))
          st.executeUpdate(
            s"DELETE FROM ${q(t)} WHERE ${q(slotCol)} >= $delSlot")
        }
        // Every stored checkpoint rewinds (points at/after delSlot die —
        // tables of unregistered reducers were trimmed too); then the
        // registered reducers' windows are replaced wholesale.
        st.executeUpdate(
          s"DELETE FROM ${q("graft_checkpoints")} WHERE slot >= $delSlot")
        writeCheckpoints(c, checkpoints)
        st.executeUpdate(s"INSERT INTO ${q("graft_commits")} VALUES ($next)")
        c.commit()
        cachedBatchId = None // the committed id just moved
      } catch { case e: Throwable => c.rollback(); throw e }
      finally st.close()
    }
  }
}
