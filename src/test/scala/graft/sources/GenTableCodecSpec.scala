package graft.sources

import java.nio.charset.StandardCharsets
import org.scalatest.funsuite.AnyFunSuite

/** The manifest line grammar, pinned byte for byte: heads, archives and
  * shards share one writer and one parser, and bodies written by earlier
  * versions (these literals) must parse and re-render unchanged.
  */
class GenTableCodecSpec extends AnyFunSuite {
  import GenTable.Cell

  /** A monolithic head of a (d, b)-partitioned table tracking `v`. */
  private val MonoHead =
    """pcol=d,b
      |#tgen=3
      |2024-01-01,0=1
      |2024-01-01,1=1
      |2024-01-02,1=1
      |2024-01-03,0=3
      |2024-01-03,1=1
      |#stat=2024-01-01,0|v|60|120
      |#stat=2024-01-01,1|v|30|90
      |#stat=2024-01-02,1|v|10|70
      |#stat=2024-01-03,0|v|20|200
      |#stat=2024-01-03,1|v|50|110
      |#meta=commit_op|upsert
      |#meta=commit_ts|2026-10-19T05%3A33%3A13.476400272Z
      |#meta=table_schema|%7B%22type%22%3A%22struct%22%2C%22fields%22%3A%5B%7B%22name%22%3A%22k%22%2C%22type%22%3A%22long%22%2C%22nullable%22%3Atrue%2C%22metadata%22%3A%7B%7D%7D%2C%7B%22name%22%3A%22v%22%2C%22type%22%3A%22long%22%2C%22nullable%22%3Atrue%2C%22metadata%22%3A%7B%7D%7D%2C%7B%22name%22%3A%22d%22%2C%22type%22%3A%22date%22%2C%22nullable%22%3Atrue%2C%22metadata%22%3A%7B%7D%7D%2C%7B%22name%22%3A%22b%22%2C%22type%22%3A%22integer%22%2C%22nullable%22%3Atrue%2C%22metadata%22%3A%7B%7D%7D%5D%7D
      |#meta=write_key_col|k
      |#meta=write_order_cols|v
      |#meta=write_stats_cols|v
      |#size=2024-01-01,0|724
      |#size=2024-01-01,1|724
      |#size=2024-01-02,1|723
      |#size=2024-01-03,0|746
      |#size=2024-01-03,1|724
      |#rows=2024-01-01,0|2
      |#rows=2024-01-01,1|2
      |#rows=2024-01-02,1|2
      |#rows=2024-01-03,0|3
      |#rows=2024-01-03,1|2
      |#files=2024-01-01,0|1
      |#files=2024-01-01,1|1
      |#files=2024-01-02,1|1
      |#files=2024-01-03,0|1
      |#files=2024-01-03,1|1
      |""".stripMargin

  /** The same table's sharded head: base shard, a drop shard, a delta. */
  private val ShardedHead =
    """pcol=d,b
      |#tgen=3
      |#shard=ms_00000000000000000001_d54a013b.gz|6|0
      |#shard=ms_00000000000000000002_af3df559.gz|0|1
      |#shard=ms_00000000000000000003_5e4e53fa.gz|1|0
      |#meta=commit_op|upsert
      |#meta=commit_ts|2026-10-19T05%3A33%3A15.473394874Z
      |#meta=table_schema|%7B%22type%22%3A%22struct%22%2C%22fields%22%3A%5B%7B%22name%22%3A%22k%22%2C%22type%22%3A%22long%22%2C%22nullable%22%3Atrue%2C%22metadata%22%3A%7B%7D%7D%2C%7B%22name%22%3A%22v%22%2C%22type%22%3A%22long%22%2C%22nullable%22%3Atrue%2C%22metadata%22%3A%7B%7D%7D%2C%7B%22name%22%3A%22d%22%2C%22type%22%3A%22date%22%2C%22nullable%22%3Atrue%2C%22metadata%22%3A%7B%7D%7D%2C%7B%22name%22%3A%22b%22%2C%22type%22%3A%22integer%22%2C%22nullable%22%3Atrue%2C%22metadata%22%3A%7B%7D%7D%5D%7D
      |#meta=write_key_col|k
      |#meta=write_order_cols|v
      |#meta=write_stats_cols|v
      |""".stripMargin

  private val BaseShard =
    """2024-01-01,0=1
      |2024-01-01,1=1
      |2024-01-02,0=1
      |2024-01-02,1=1
      |2024-01-03,0=1
      |2024-01-03,1=1
      |#stat=2024-01-01,0|v|60|120
      |#stat=2024-01-01,1|v|30|90
      |#stat=2024-01-02,0|v|40|100
      |#stat=2024-01-02,1|v|10|70
      |#stat=2024-01-03,0|v|20|80
      |#stat=2024-01-03,1|v|50|110
      |#size=2024-01-01,0|724
      |#size=2024-01-01,1|724
      |#size=2024-01-02,0|724
      |#size=2024-01-02,1|723
      |#size=2024-01-03,0|724
      |#size=2024-01-03,1|724
      |#rows=2024-01-01,0|2
      |#rows=2024-01-01,1|2
      |#rows=2024-01-02,0|2
      |#rows=2024-01-02,1|2
      |#rows=2024-01-03,0|2
      |#rows=2024-01-03,1|2
      |#files=2024-01-01,0|1
      |#files=2024-01-01,1|1
      |#files=2024-01-02,0|1
      |#files=2024-01-02,1|1
      |#files=2024-01-03,0|1
      |#files=2024-01-03,1|1
      |""".stripMargin

  private val DropShard =
    """#drop=2024-01-02,0
      |""".stripMargin

  private val DeltaShard =
    """2024-01-03,0=3
      |#stat=2024-01-03,0|v|20|200
      |#size=2024-01-03,0|746
      |#rows=2024-01-03,0|3
      |#files=2024-01-03,0|1
      |""".stripMargin

  private def str(b: Array[Byte]): String = new String(b, StandardCharsets.UTF_8)

  private def headRoundTrip(body: String): String = {
    val (c, chain) = GenTable.parseManifest(body)
    str(GenTable.renderHead(c, chain))
  }

  test("heads and shards round-trip parse -> render byte for byte") {
    assert(headRoundTrip(MonoHead) === MonoHead)
    assert(headRoundTrip(ShardedHead) === ShardedHead)
    Seq(BaseShard, DropShard, DeltaShard).foreach { body =>
      assert(str(GenTable.renderShard(GenTable.parseShard(body))) === body)
    }
  }

  test("a cell is its generation, bands, bytes, rows and files") {
    val (c, chain) = GenTable.parseManifest(MonoHead)
    assert(chain.isEmpty)
    assert(c.partitionCols === Seq("d", "b"))
    assert(c.tableGen === 3L)
    assert(c.cells.size === 5)
    assert(c.cells("2024-01-03,0") ===
      Cell(3L, Map("v" -> ((20L, 200L))), Some(746L), Some(3L), Some(1L)))
    assert(c.totalRows === Some(11L))
    assert(c.totalFiles === Some(5L))
    assert(c.meta("commit_op") === "upsert")
    val (s, refs) = GenTable.parseManifest(ShardedHead)
    assert(s.cells.isEmpty && s.tableGen === 3L && s.meta === c.meta.updated(
      "commit_ts", s.meta("commit_ts")))
    assert(refs.map(r => (r.cells, r.drops)) === Seq((6L, 0L), (0L, 1L), (1L, 0L)))
    assert(GenTable.parseShard(DropShard) ===
      GenTable.ShardData(Map.empty, Set("2024-01-02,0")))
    // the chain folds to the monolithic head's cells
    val folded = Seq(BaseShard, DropShard, DeltaShard).map(GenTable.parseShard)
      .foldLeft(Map.empty[String, Cell])((acc, d) => acc -- d.drops ++ d.cells)
    assert(folded === c.cells)
  }

  test("a legacy head without #tgen, #size, #rows or #files parses; its " +
      "totals are unknown") {
    val (c, chain) = GenTable.parseManifest(
      "pcol=bucket\n0=1\n1=2\n#stat=0|v|1|5\n#meta=commit_op|upsert\n")
    assert(chain.isEmpty)
    assert(c.cells === Map("0" -> Cell(1L, Map("v" -> ((1L, 5L)))), "1" -> Cell(2L)))
    assert(c.tableGen === 2L)
    assert(c.totalBytes === None)
    assert(c.totalRows === None)
    assert(c.totalFiles === None)
  }

  test("unknown annotations and cell lines without a generation are " +
      "ignored in heads and shards alike") {
    val head = GenTable.parseManifest(MonoHead)
    val lines = MonoHead.split('\n')
    def withExtra(extra: String*): String =
      (lines.take(3) ++ extra ++ lines.drop(3)).mkString("", "\n", "\n")
    assert(GenTable.parseManifest(withExtra("#x=5")) === head)
    assert(GenTable.parseManifest(withExtra("#x=abc", "#x", "#size=9|100")) === head)
    assert(GenTable.parseShard("#x=5\n" + DeltaShard) ===
      GenTable.parseShard(DeltaShard))
  }
}
