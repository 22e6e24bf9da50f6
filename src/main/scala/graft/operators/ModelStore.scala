package graft.operators

import graft.Warehouse
import graft.functions.{BpeModel, DfModel, GramSetModel, LmModel, PqModel, QualityLrModel}

/** Persistence for the engine's trained models — IVF/k-means centroids,
  * PQ codebooks, and the hashed-n-gram quality classifier.
  *
  * Real pipelines train once and score for months: the index model is a
  * versioned warehouse artifact, not a per-session side effect (the
  * reference materializes every derived artifact as a warehouse table —
  * fugue_trino/execution_engine.py:124-133 persists via df_to_table; model
  * tables get the same treatment). Each model round-trips through plain
  * parquet rows via [[Warehouse.saveTable]]/[[Warehouse.loadTable]], so
  * saves invalidate stale views like any other table write, the artifacts
  * are readable by any engine (a row per centroid/code, no opaque blobs),
  * and a load rebuilds the literal in-memory model BIT-IDENTICALLY —
  * floats and longs round-trip parquet exactly, pinned by the
  * q_ann_model_roundtrip contract row (store→load→score == train→score).
  *
  * Scale: every model here is bounded by design (centroids: numCells × dim
  * floats; PQ: m × ksub × dsub floats; classifier: numBuckets longs) — the
  * collect in each load is O(model), never O(corpus).
  */
object ModelStore {

  // ---- IVF / k-means centroids ----------------------------------------

  /** Save centroids as rows (cell INT, centroid ARRAY<FLOAT>). */
  def saveCentroids(wh: Warehouse, outDir: String, table: String,
      centroids: Array[Seq[Float]]): Unit = {
    val spark = wh.spark
    import spark.implicits._
    wh.saveTable(
      centroids.zipWithIndex.map { case (v, i) => (i, v) }.toSeq
        .toDF("cell", "centroid"),
      outDir, table)
  }

  /** Load centroids ordered by cell id — the exact array
    * [[Similarity.trainCentroidsKMeans]] returned at save time.
    */
  def loadCentroids(wh: Warehouse, table: String): Array[Seq[Float]] = {
    val rows = wh.loadTable(table).orderBy("cell")
      .select("centroid").collect().map(_.getSeq[Float](0))
    require(rows.nonEmpty, s"empty centroid model table: $table")
    rows
  }

  // ---- PQ codebook -----------------------------------------------------

  /** Save a PQ codebook as rows (subspace INT, code INT,
    * sub_centroid ARRAY<FLOAT> of dsub) — m and ksub are recovered from
    * the row coordinates, dsub from the array length.
    */
  def savePqModel(wh: Warehouse, outDir: String, table: String,
      model: PqModel): Unit = {
    val spark = wh.spark
    import spark.implicits._
    val rows = for (s <- 0 until model.m; j <- 0 until model.ksub) yield {
      val off = (s * model.ksub + j) * model.dsub
      (s, j, model.flat.slice(off, off + model.dsub).toSeq)
    }
    wh.saveTable(rows.toDF("subspace", "code", "sub_centroid"), outDir, table)
  }

  /** Rebuild the PqModel from its row form (bit-identical flat array). */
  def loadPqModel(wh: Warehouse, table: String): PqModel = {
    val rows = wh.loadTable(table).orderBy("subspace", "code")
      .select("subspace", "code", "sub_centroid").collect()
    require(rows.nonEmpty, s"empty PQ model table: $table")
    val dsub = rows.head.getSeq[Float](2).length
    val m = rows.map(_.getInt(0)).max + 1
    val ksub = rows.map(_.getInt(1)).max + 1
    require(rows.length == m * ksub,
      s"PQ model table $table has ${rows.length} rows, expected ${m * ksub}")
    val flat = new Array[Float](m * ksub * dsub)
    rows.foreach { r =>
      val off = (r.getInt(0) * ksub + r.getInt(1)) * dsub
      val v = r.getSeq[Float](2)
      require(v.length == dsub, s"ragged sub_centroid in $table")
      var t = 0
      while (t < dsub) { flat(off + t) = v(t); t += 1 }
    }
    new PqModel(m, dsub, ksub, flat)
  }

  // ---- quality classifier ---------------------------------------------

  /** Save a trained quality classifier as rows (bucket INT, weight BIGINT,
    * scale BIGINT) — scale repeats per row (constant column; negligible
    * for a bounded model and keeps the table self-describing).
    */
  def saveQualityModel(wh: Warehouse, outDir: String, table: String,
      model: QualityLrModel): Unit = {
    val spark = wh.spark
    import spark.implicits._
    wh.saveTable(
      model.weights.zipWithIndex.map { case (w, b) => (b, w, model.scale) }
        .toSeq.toDF("bucket", "weight", "scale"),
      outDir, table)
  }

  /** Rebuild the classifier (bit-identical integer weights). */
  def loadQualityModel(wh: Warehouse, table: String): QualityLrModel = {
    val rows = wh.loadTable(table).orderBy("bucket")
      .select("bucket", "weight", "scale").collect()
    require(rows.nonEmpty, s"empty quality model table: $table")
    new QualityLrModel(rows.map(_.getLong(1)), rows.length, rows.head.getLong(2))
  }

  // ---- DSIR importance model -------------------------------------------

  /** Save a trained DSIR model as rows (bucket INT, weight BIGINT,
    * per_gram BIGINT) — per_gram repeats per row, the
    * [[saveQualityModel]] constant-column convention.
    */
  def saveDsirModel(wh: Warehouse, outDir: String, table: String,
      model: graft.functions.DsirModel): Unit = {
    val spark = wh.spark
    import spark.implicits._
    wh.saveTable(
      model.weights.zipWithIndex.map { case (w, b) => (b, w, model.perGram) }
        .toSeq.toDF("bucket", "weight", "per_gram"),
      outDir, table)
  }

  /** Rebuild the DSIR model (bit-identical integer weights). */
  def loadDsirModel(wh: Warehouse, table: String): graft.functions.DsirModel = {
    val rows = wh.loadTable(table).orderBy("bucket")
      .select("bucket", "weight", "per_gram").collect()
    require(rows.nonEmpty, s"empty DSIR model table: $table")
    new graft.functions.DsirModel(rows.map(_.getLong(1)), rows.length,
      rows.head.getLong(2))
  }

  // ---- BPE merge table -------------------------------------------------

  /** Save a BPE model as rows (merge_key BIGINT, rank INT) — sortedKeys
    * is already the binary-search order, recovered by ordering on load.
    */
  def saveBpeModel(wh: Warehouse, outDir: String, table: String,
      model: BpeModel): Unit = {
    val spark = wh.spark
    import spark.implicits._
    wh.saveTable(model.sortedKeys.zip(model.rankAt).toSeq
      .toDF("merge_key", "rank"), outDir, table)
  }

  def loadBpeModel(wh: Warehouse, table: String): BpeModel = {
    val rows = wh.loadTable(table).orderBy("merge_key")
      .select("merge_key", "rank").collect()
    require(rows.nonEmpty, s"empty BPE model table: $table")
    new BpeModel(rows.map(_.getLong(0)), rows.map(_.getInt(1)))
  }

  // ---- bigram LM -------------------------------------------------------

  /** Save a bigram LM as TWO tables: `table` (word_id INT, word STRING,
    * n BIGINT — the sorted vocabulary) and `table`_bigrams
    * (bigram_key BIGINT, n BIGINT). Word ids are positions in the sorted
    * vocab, so the packed bigram keys stay valid across the round-trip.
    */
  def saveLmModel(wh: Warehouse, outDir: String, table: String,
      model: LmModel): Unit = {
    val spark = wh.spark
    import spark.implicits._
    wh.saveTable(model.sortedWords.zip(model.wordCount).zipWithIndex
      .map { case ((w, n), i) => (i, w, n) }.toSeq
      .toDF("word_id", "word", "n"), outDir, table)
    wh.saveTable(model.bigramKeys.zip(model.bigramCount).toSeq
      .toDF("bigram_key", "n"), outDir, s"${table}_bigrams")
  }

  def loadLmModel(wh: Warehouse, table: String): LmModel = {
    val vocab = wh.loadTable(table).orderBy("word_id")
      .select("word", "n").collect()
    val bi = wh.loadTable(s"${table}_bigrams").orderBy("bigram_key")
      .select("bigram_key", "n").collect()
    new LmModel(vocab.map(_.getString(0)), vocab.map(_.getLong(1)),
      bi.map(_.getLong(0)), bi.map(_.getLong(1)))
  }

  // ---- document-frequency (IDF) model ---------------------------------

  /** Save a DF model as rows (word STRING, df BIGINT, n_docs BIGINT). */
  def saveDfModel(wh: Warehouse, outDir: String, table: String,
      model: DfModel): Unit = {
    val spark = wh.spark
    import spark.implicits._
    wh.saveTable(model.sortedWords.zip(model.dfAt)
      .map { case (w, d) => (w, d, model.nDocs) }.toSeq
      .toDF("word", "df", "n_docs"), outDir, table)
  }

  def loadDfModel(wh: Warehouse, table: String): DfModel = {
    val rows = wh.loadTable(table).orderBy("word")
      .select("word", "df", "n_docs").collect()
    require(rows.nonEmpty, s"empty df model table: $table")
    new DfModel(rows.map(_.getString(0)), rows.map(_.getLong(1)),
      rows.head.getLong(2))
  }

  // ---- decontamination gram set ---------------------------------------

  /** Save an eval-set gram membership model as rows (h BIGINT, n INT,
    * is_char BOOLEAN) — the shingling params repeat per row so the model
    * stays self-contained (a probe can never run with mismatched params).
    */
  def saveGramSetModel(wh: Warehouse, outDir: String, table: String,
      model: GramSetModel): Unit = {
    val spark = wh.spark
    import spark.implicits._
    wh.saveTable(model.sorted.map(h => (h, model.n, model.char)).toSeq
      .toDF("h", "n", "is_char"), outDir, table)
  }

  def loadGramSetModel(wh: Warehouse, table: String): GramSetModel = {
    val rows = wh.loadTable(table).orderBy("h")
      .select("h", "n", "is_char").collect()
    require(rows.nonEmpty, s"empty gram-set model table: $table")
    new GramSetModel(rows.map(_.getLong(0)), rows.head.getInt(1),
      rows.head.getBoolean(2))
  }
}
