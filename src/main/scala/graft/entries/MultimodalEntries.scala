package graft
package entries

import org.apache.spark.sql.functions._

import graft.pipeline.Multimodal

import SparkEntry._

/** The multimodal entries: batched image and audio decode and metadata
  * extraction over deterministic per-doc media.
  */
object MultimodalEntries extends EntryFamily {
  exact("mm_decode", bench = true)((s, d) => {
    // REAL image decode, no stub: deterministic PNGs rendered per doc
    // (JDK ImageIO), shipped as a binary column, header-parsed back in a
    // batched per-partition pass — dimensions/format from the ACTUAL
    // bytes. The oracle recomputes the deterministic dimensions from ids.
    import s.implicits._
    val imgs = docsDf(s, d).select($"doc_id").as[Long]
      .mapPartitions(_.map { id =>
        (id, Multimodal.syntheticPng((id % 64 + 16).toInt,
          ((id * 7) % 48 + 16).toInt, id))
      }).toDF("id", "png")
    Multimodal.decodeImages(s, imgs, "id", "png")
      .toDF("id", "width", "height", "format")
      .orderBy($"id")
  })(
    """SELECT doc_id AS id, (doc_id % 64 + 16)::INT AS width,
      |       ((doc_id * 7) % 48 + 16)::INT AS height, 'png' AS format
      |FROM documents ORDER BY id""".stripMargin)
  exact("mm_audio")((s, d) => {
    // REAL audio decode (JDK javax.sound): deterministic 16-bit mono
    // WAVs, header-parsed back to (frames, sample_rate, channels)
    import s.implicits._
    val wavs = docsDf(s, d).select($"doc_id").as[Long]
      .mapPartitions(_.map { id =>
        (id, Multimodal.syntheticWav((id % 1000 + 100).toInt,
          (8000 + (id % 4) * 4000).toInt, id))
      }).toDF("id", "wav")
    Multimodal.decodeAudio(s, wavs, "id", "wav")
      .toDF("id", "frames", "sample_rate", "channels")
      .orderBy($"id")
  })(
    """SELECT doc_id AS id, (doc_id % 1000 + 100)::BIGINT AS frames,
      |       (8000 + (doc_id % 4) * 4000)::INT AS sample_rate, 1 AS channels
      |FROM documents ORDER BY id""".stripMargin)
  exact("mm_meta", bench = true)((s, d) =>
    Multimodal.extractMeta(s,
      Multimodal.withBinary(docsDf(s, d), "text", "payload"), "doc_id", "payload")
      .orderBy(col("id")).toDF())(
    """SELECT doc_id AS id, length(text)::BIGINT AS n_bytes,
      |       (length(text) % 640)::INT AS width,
      |       ((length(text) * 7) % 480)::INT AS height,
      |       (length(text) % 16)::INT AS frames
      |FROM documents ORDER BY id""".stripMargin)
}
