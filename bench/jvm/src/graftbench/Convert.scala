package graftbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.util.LongAccumulator

import graft.functions.BtcScript
import graft.ingest.Bitcoin

/** The per-record converter of the reference (`BitcoinBlockHandler`):
  * raw script bytes -> script strings and addresses, chain work ->
  * terahash, into [[Bitcoin.blockSchema]] rows.
  *
  * Counts decoded scripts (and the ones that decoded without error) in
  * accumulators; with `timed` it also sums the nanoseconds spent in the
  * `graft.functions` calls, which is the `functions.decode_s` layer
  * figure. Raw columns after the ninth (`transactions`) are carried
  * through unchanged after the converted ones. */
final class Convert(sc: org.apache.spark.SparkContext, timed: Boolean) {
  val scripts: LongAccumulator = sc.longAccumulator("bench.scripts")
  val decodedOk: LongAccumulator = sc.longAccumulator("bench.decode_ok")
  val decodeNs: LongAccumulator = sc.longAccumulator("bench.decode_ns")

  def apply(raw: DataFrame): DataFrame = {
    val (scripts, ok, ns, t) = (this.scripts, decodedOk, decodeNs, timed)
    val rows = raw.rdd.mapPartitions { it =>
      def decode(script: Array[Byte]): (String, String) = {
        scripts.add(1)
        val r = BtcScript.decodeToString(script)
        if (r._2 == null) ok.add(1)
        r
      }
      def timedCall[A](f: => A): A =
        if (!t) f
        else { val t0 = System.nanoTime(); try f finally ns.add(System.nanoTime() - t0) }
      it.map { b =>
        val txs = b.getSeq[Row](8).map { tx =>
          val ins = tx.getSeq[Row](1).map { in =>
            val script = in.getAs[Array[Byte]](0)
            val coinbase = in.getBoolean(2)
            timedCall {
              val (s, serr) = decode(script)
              // coinbase inputs get pubkey "" (never null)
              val (pk, pkerr) = if (coinbase) ("", null) else BtcScript.inputAddress(script)
              Row(script, s, serr, in.getLong(1), pk, pkerr)
            }
          }
          val outs = tx.getSeq[Row](2).map { out =>
            val script = out.getAs[Array[Byte]](1)
            val sat = if (out.isNullAt(0)) null else java.lang.Long.valueOf(out.getLong(0))
            timedCall {
              val (s, serr) = decode(script)
              val (addr, aerr) = BtcScript.outputAddress(script)
              Row(sat, script, s, serr, addr, aerr)
            }
          }
          Row(tx.getString(0), ins, outs)
        }
        val (wt, we) = timedCall(Bitcoin.workTerahash(BigInt(b.getString(7))))
        Row.fromSeq(Seq(b.getString(0), b.getString(1), b.getString(2), b.getLong(3),
          b.getLong(4), b.getLong(5), b.getLong(6), wt.map(Long.box).orNull, we.orNull,
          txs) ++ (9 until b.length).map(b.get))
      }
    }
    raw.sparkSession.createDataFrame(rows,
      org.apache.spark.sql.types.StructType(Bitcoin.blockSchema.fields ++ raw.schema.fields.drop(9)))
  }
}
