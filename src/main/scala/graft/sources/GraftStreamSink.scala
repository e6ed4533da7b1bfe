package graft.sources

import org.apache.spark.sql.{DataFrame, SQLContext}
import org.apache.spark.sql.execution.streaming.Sink

/** `df.writeStream.format("graft").option("path", root)` — the
  * versioned table as a STREAMING SINK, closing the addressing
  * matrix's last face (batch read/write, SQL, catalog names, stream
  * read — and now stream write): every micro-batch lands as ONE
  * versioned commit via [[graft.ops.SinkOps.commitStreamBatch]] — the
  * commit pipeline with a deterministic batch dir — so the stream's output is
  * immediately time-travelable, changefeed-consumable
  * ([[GraftStreamSource]] can tail it — graft→graft pipes compose),
  * and EXACTLY-ONCE: the batch's dir name is deterministic in
  * (txnAppId, batchId) and a replayed batch whose dir any manifest
  * references is skipped — the Delta transactional-sink discipline
  * with zero new manifest syntax.
  *
  * Append-only (`outputMode` append; complete/update refuse loudly —
  * a versioned table's history is immutable commits, not a mutable
  * result set). Options: `txnAppId` (namespaces batch dirs when
  * several independent streams feed one table), `retries` (OCC
  * budget against concurrent batch writers: n races, n + 1 manifest
  * attempts; default 2).
  */
class GraftStreamSink(sqlContext: SQLContext, path: String,
                      txnAppId: String, maxTries: Int)
    extends Sink {

  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    // SCHEMA-ON-WRITE enforcement (r16, ADVICE): the stream's columns
    // must match the initialized target table's head schema by name
    // and type (nullability and order free — unionByName semantics).
    // Without this, a renamed/missing/extra column lands silently and
    // only surfaces at read time as unionByName errors or null-filled
    // columns — at odds with the sink's own "a typo'd target must be
    // loud" stance (and with Delta's schema enforcement).
    val target = graft.ops.SinkOps
      .readVersion(sqlContext.sparkSession, path).schema
    def shape(st: org.apache.spark.sql.types.StructType) =
      st.fields.map(f => (f.name, f.dataType)).sortBy(_._1).toSeq
    require(shape(data.schema) == shape(target),
      s"graft sink at $path: micro-batch schema " +
        s"${data.schema.simpleString} does not match the target " +
        s"table's head schema ${target.simpleString} — the versioned " +
        "sink enforces schema-on-write; evolve the table first " +
        "(ALTER TABLE) or fix the stream's projection")
    // The engine hands addBatch a streaming-tagged slice that batch
    // writers refuse — re-root it as a batch leaf (the Kafka-sink
    // shape), then commit.
    val batch = org.apache.spark.sql.GraftSqlBridge.asBatch(data)
    graft.ops.SinkOps.commitStreamBatch(batch, path, batchId,
      txnAppId, retries = maxTries)
    ()
  }

  override def toString: String = s"GraftStreamSink[$path]"
}
