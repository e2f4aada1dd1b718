package graft.synth

import graft.text.TextAlgos.mix64

/** The document generators' one seeded draw. Every doc table that
  * `graft.Verify` writes to `_synth`, and the goldens planted in it, come
  * from these two functions, so a doc is fixed by its id alone.
  */
private[synth] object DocDraw {

  /** A value in `[0, n)` fixed by `(id, tag)`. */
  def draw(id: Long, tag: Long, n: Int): Int =
    Math.floorMod(mix64(id * 0x9e3779b97f4a7c15L + tag), n.toLong).toInt

  /** The word of `vocab` drawn for `(id, tag)`. */
  def word(vocab: Array[String], id: Long, tag: Long): String =
    vocab(draw(id, tag, vocab.length))
}
