package graft.kafka

import Wire.WireRecord

/** Bytes a produce request carries for one batch, encoded exactly as
  * `MiniKafkaClient.produce` encodes it. Lives in the transport's package
  * because the v2 batch encoder is package-private. */
object WireSize {
  def batchBytes(records: Seq[WireRecord], codec: Int): Int =
    if (codec == 0) Wire.encodeMessageSet(records).length
    else if (codec == 4) RecordBatchV2.encode(records, codec = 4).length
    else Wire.encodeMessageSetCompressed(records, codec).length
}
