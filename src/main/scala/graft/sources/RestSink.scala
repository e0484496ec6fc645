package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{col, struct, to_json}

import Http._

/** REST write sinks: POST-as-upsert and DELETE-by-id, the reference's
  * S8/S9 (TeacherCandidatesApi POST :615-627, DELETE :126-141, driven one
  * record at a time on a single thread — SisConnectorService.java:184-198,
  * 472-487).
  *
  * Spark-first restatement: `foreachPartition` — every partition opens its
  * own authed session and streams its rows through the transport, one
  * request at a time per task.
  *
  * A sink's cost is request latency per row, not bytes: its inputs are a
  * few hundred KB, which AQE's byte-based coalescing folds into ONE
  * partition (and a delete set inherits a single-split scan), leaving one
  * task sending while every other slot idles. So both sinks first spread
  * their rows by hash of the record key over an EXPLICIT partition count —
  * the session's slot count (`defaultParallelism`); AQE never coalesces an
  * explicit count. Keying the spread keeps every request for one key in one
  * task, so same-key requests are never in flight together, and a retried
  * task re-reads exactly its own rows.
  *
  * Idempotency makes task retries safe: Ed-Fi POST is upsert-by-natural-key
  * (re-POST converges), and DELETE treats 404 as success (already gone —
  * exactly what a retried delete sees).
  */
object RestSink {

  final case class SinkReport(attempted: Long, succeeded: Long)

  /** POST every row of `df` as a JSON document to `path`, spread by
    * `keyCol`. Returns counts from accumulators (the run-report plumbing,
    * S11/A5).
    */
  def upsert(
      df: DataFrame,
      keyCol: String,
      transport: Transport,
      tokens: TokenSource,
      path: String): SinkReport =
    send(df, keyCol, to_json(struct(df.columns.map(col): _*)), "upsert", transport, tokens)(
      body => Request("POST", path, body = body),
      status => status / 100 == 2)

  /** DELETE each id in `df(idCol)`; 404 counts as success (idempotent
    * delete under task retry — the reference's delete-after-reauth path
    * would crash on it).
    */
  def delete(
      df: DataFrame,
      idCol: String,
      transport: Transport,
      tokens: TokenSource,
      path: String): SinkReport =
    send(df, idCol, col(idCol).cast("string"), "delete", transport, tokens)(
      id => Request("DELETE", s"$path/$id"),
      status => status / 100 == 2 || status == 404)

  /** Send one request per row, built from the row's `payload` string, from
    * `defaultParallelism` tasks keyed by `keyCol`. A status that `ok`
    * rejects throws, failing the task.
    */
  private def send(
      df: DataFrame,
      keyCol: String,
      payload: Column,
      name: String,
      transport: Transport,
      tokens: TokenSource)(
      request: String => Request,
      ok: Int => Boolean): SinkReport = {
    val sc = df.sparkSession.sparkContext
    val attempted = sc.longAccumulator(s"graft.$name.attempted")
    val succeeded = sc.longAccumulator(s"graft.$name.succeeded")
    df.repartition(sc.defaultParallelism, col(keyCol)).select(payload)
      .foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
        val authed = new Authed(transport, tokens)
        it.foreach { row =>
          attempted.add(1)
          val req = request(row.getString(0))
          val resp = authed.call(req)
          if (ok(resp.status)) succeeded.add(1)
          else throw new RuntimeException(s"${req.method} ${req.path} failed: HTTP ${resp.status}")
        }
      }
    SinkReport(attempted.value, succeeded.value)
  }
}
