package perfbench

/** Per-stage corpus_prep row counts recorded when this benchmark was
  * added, by seed (600 generated documents). A seed without an entry is
  * checked by the structural checks alone.
  */
object Expected {
  private val stages = Seq(
    "ingest_documents", "pii_scrub", "annotate_quality", "exact_dedup",
    "near_dedup", "quality_gate", "classifier_annotate", "lm_gate",
    "bpe_tokenize", "phrase_corpus", "split_assign", "chunk_documents",
    "pack_shards", "curriculum_order", "holdout_sample",
    "train_decontaminated", "term_index", "fingerprint_store", "corpus_stats")

  private val corpus: Map[Long, Seq[Long]] = Map(
    0L -> Seq(600L, 600L, 600L, 592L, 576L, 576L, 576L, 283L, 283L, 283L, 283L, 283L, 283L, 283L, 50L, 233L, 7865L, 283L, 2L),
    1L -> Seq(600L, 600L, 600L, 592L, 576L, 576L, 576L, 293L, 293L, 293L, 293L, 293L, 293L, 293L, 50L, 243L, 8239L, 293L, 2L),
    2L -> Seq(600L, 600L, 600L, 592L, 576L, 576L, 576L, 293L, 293L, 293L, 293L, 293L, 293L, 293L, 50L, 243L, 8076L, 293L, 2L),
    3L -> Seq(600L, 600L, 600L, 592L, 576L, 576L, 576L, 282L, 282L, 282L, 282L, 282L, 282L, 282L, 50L, 232L, 7772L, 282L, 2L),
    4L -> Seq(600L, 600L, 600L, 592L, 574L, 574L, 574L, 281L, 281L, 281L, 281L, 281L, 281L, 281L, 50L, 231L, 7844L, 281L, 2L),
    5L -> Seq(600L, 600L, 600L, 592L, 578L, 578L, 578L, 289L, 289L, 289L, 289L, 289L, 289L, 289L, 50L, 239L, 7983L, 289L, 2L),
    6L -> Seq(600L, 600L, 600L, 592L, 575L, 575L, 575L, 313L, 313L, 313L, 313L, 313L, 313L, 313L, 50L, 263L, 8424L, 313L, 2L),
    7L -> Seq(600L, 600L, 600L, 592L, 576L, 576L, 576L, 271L, 271L, 271L, 271L, 271L, 271L, 271L, 50L, 221L, 7391L, 271L, 2L),
    8L -> Seq(600L, 600L, 600L, 592L, 575L, 575L, 575L, 280L, 280L, 280L, 280L, 280L, 280L, 280L, 50L, 230L, 7745L, 280L, 2L),
    9L -> Seq(600L, 600L, 600L, 592L, 576L, 576L, 576L, 279L, 279L, 279L, 279L, 279L, 279L, 279L, 50L, 229L, 7584L, 279L, 2L),
    10L -> Seq(600L, 600L, 600L, 592L, 575L, 575L, 575L, 294L, 294L, 294L, 294L, 294L, 294L, 294L, 50L, 244L, 8145L, 294L, 2L))

  def corpusCounts(seed: Long): Option[Seq[(String, Long)]] =
    corpus.get(seed).map(stages.zip(_))
}
