package graft.driver

import org.apache.spark.sql.functions._

import graft.goldens.Goldens
import graft.ops.Multimodal

/** Feature extraction over synthetic media rows: image rows are REAL PNGs
  * decoded with the JDK's ImageIO (dimensions + luminance histogram of
  * actual pixels); audio rows are REAL PCM WAVs decoded with the JDK's
  * javax.sound.sampled (sample count, RMS, Goertzel band energies); video
  * rows are REAL MJPEG AVIs decoded via the RIFF chunk walk + the JDK's
  * JPEG plugin (frame count, dims, temporal luminance curve).
  */
object MultimodalQueries {

  val queries: Seq[DriverQuery] = Seq({
    val (rows, seed, featureDim, scale) = (500L, 42L, 16, 4)
    // Determinism pin: the expected feature sums are recomputed
    // driver-side from the SAME pure functions
    // ([[Multimodal.syntheticRow]]/[[Multimodal.decode]]), so the
    // distributed mapPartitions path must reproduce the scalar path
    // row-for-row, including a genuine executor-side image decode.
    DriverQuery("q_multimodal_features", {
      val expected = (0L until rows).map { i =>
        val (id, kind, _, _, _, _, payload) = Multimodal.syntheticRow(i, seed)
        val sum = Multimodal.decode(kind, payload, featureDim)
          .foldLeft(0.0)((acc, x) => acc + x)
        val rounded = BigDecimal(sum)
          .setScale(scale, BigDecimal.RoundingMode.HALF_UP).toDouble
        (id, kind, rounded)
      }
      Goldens.valuesSql(Seq("media_id", "kind", "feature_sum"), expected)
    }) { (s, _) =>
      Multimodal.extractFeatures(
        Multimodal.synthesize(s, rows, seed), featureDim = featureDim)
        .select(col("media_id"), col("kind"),
          round(aggregate(col("features"),
            lit(0.0), (acc, x) => acc + x), scale).as("feature_sum"))
    }
  })
}
