package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

import graft.sources.{Layout, MatView, Scd, TimeTravel}

/** Every SQL table function that writes runs its write when the query
  * executes, never while it is analyzed: `EXPLAIN` of the call leaves
  * its target unchanged, one `spark.sql(...)` with no action applies
  * the write, an action on the returned frame applies nothing more, and
  * the receipt keeps its schema (names, types, nullability) and rows.
  * One row of [[faces]] per writing face, each over its own small
  * fixture.
  */
class SqlEffectSpec extends SparkSpec {
  import spark.implicits._

  private lazy val root: String = {
    GraftExtensions.register(spark)
    val rows = (1L to 12L).map(i => (i, if (i % 3 == 0) "b" else "a",
      i * 10L, if (i % 2 == 0) "x" else "y", s"doc $i words"))
      .toDF("id", "k", "v", "grp", "text")
    rows.createOrReplaceTempView("fx_rows")
    rows.filter($"id" <= 4L).createOrReplaceTempView("fx_more")
    rows.select($"id" + 100L as "id", $"k", $"v", $"grp", $"text")
      .createOrReplaceTempView("fx_new")
    Seq(1L, 2L).toDF("id").createOrReplaceTempView("fx_ids")
    Seq((1L, "a", -1L, "y", "changed"), (13L, "a", 130L, "y", "new"))
      .toDF("id", "k", "v", "grp", "text").createOrReplaceTempView("fx_upd")
    scdDim((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L))
      .createOrReplaceTempView("fx_scd")
    scdDim((3L, "c", 31L)).createOrReplaceTempView("fx_scd_up")
    Seq(1L).toDF("k").createOrReplaceTempView("fx_scd_keys")
    Files.createTempDirectory("graft_effect").toString
  }

  private def scdDim(rows: (Long, String, Long)*): DataFrame =
    rows.toDF("k", "name", "score")

  private def table: DataFrame = spark.table("fx_rows")

  private def lake(t: String, commits: Int): Unit =
    (1 to commits).foreach { c =>
      TimeTravel.commitAppend(table.filter($"id" % commits === c - 1), t,
        Seq("id"), files = 2)
    }

  private def schema(cols: (String, DataType)*): StructType =
    StructType(cols.map { case (n, t) => StructField(n, t, t == StringType) })

  private val versioned = schema("data_path" -> StringType,
    "version" -> LongType)

  /** A writing face: `fixture` builds its target under a fresh face
    * directory and returns the SQL call; `rows` is the receipt it must
    * return there. */
  private final case class Face(name: String, receipt: StructType)(
      val fixture: String => String, val rows: String => Seq[Row])

  private def tombstoneFace(family: String, input: String,
                            col: String): Face =
    Face(s"graft_delete_$family", schema("index_path" -> StringType))(
      d => s"graft_delete_$family('$input', '$d/idx', '$col')",
      d => Seq(Row(s"$d/idx")))

  private val faces: Seq[Face] = Seq(
    tombstoneFace("digest", "fx_rows", "text"),
    tombstoneFace("minhash", "fx_ids", "id"),
    tombstoneFace("simhash", "fx_ids", "id"),
    tombstoneFace("ivf", "fx_ids", "id"),
    tombstoneFace("lsh", "fx_ids", "id"),
    tombstoneFace("pq", "fx_ids", "id"),
    Face("graft_zorder_write", schema("data_path" -> StringType,
        "files_written" -> IntegerType))(
      d => s"graft_zorder_write('fx_rows', '$d/t', 'id,v', 2)",
      d => Seq(Row(s"$d/t", 2))),
    Face("graft_update_manifest", schema("data_path" -> StringType,
        "files_statted" -> IntegerType))(
      { d =>
        Layout.writeZOrdered(table, s"$d/t", Seq("id", "v"), 2)
        s"graft_update_manifest('$d/t', 'id,v')"
      },
      d => Seq(Row(s"$d/t", 2))),
    Face("graft_zorder_write_partitioned", schema("root" -> StringType,
        "files_written" -> IntegerType))(
      d => s"graft_zorder_write_partitioned('fx_rows', '$d/t', 'k', " +
        "'id,v', 2)",
      d => Seq(Row(s"$d/t", 3))),
    Face("graft_append_partitioned", schema("root" -> StringType,
        "files_appended" -> IntegerType))(
      { d =>
        Layout.writeZOrderedPartitioned(table, s"$d/t", "k", Seq("id", "v"), 2)
        s"graft_append_partitioned('fx_more', '$d/t', 'k', 'id,v', 2)"
      },
      d => Seq(Row(s"$d/t", 3))),
    Face("graft_update_manifest_partitioned", schema("root" -> StringType,
        "files_statted" -> IntegerType))(
      { d =>
        Layout.writeZOrderedPartitioned(table, s"$d/t", "k", Seq("id", "v"), 2)
        s"graft_update_manifest_partitioned('$d/t', 'id,v')"
      },
      d => Seq(Row(s"$d/t", 3))),
    Face("graft_compact_partitioned", schema("root" -> StringType,
        "leaves_compacted" -> IntegerType))(
      { d =>
        Layout.writeZOrderedPartitioned(table, s"$d/t", "k", Seq("id", "v"), 2)
        Layout.appendZOrderedPartitioned(spark.table("fx_more"), s"$d/t", "k",
          Seq("id", "v"), 2)
        Layout.updateManifestPartitioned(spark, s"$d/t", Seq("id", "v"))
        s"graft_compact_partitioned('$d/t', 'id,v', 1, 2)"
      },
      d => Seq(Row(s"$d/t", 1))),
    Face("graft_drop_partition", schema("root" -> StringType,
        "dropped" -> BooleanType))(
      { d =>
        Layout.writeZOrderedPartitioned(table, s"$d/t", "k", Seq("id", "v"), 2)
        s"graft_drop_partition('$d/t', 'k=b')"
      },
      d => Seq(Row(s"$d/t", true))),
    Face("graft_delete_partitioned", schema("root" -> StringType,
        "files_rewritten" -> IntegerType))(
      { d =>
        Layout.writeZOrderedPartitioned(table, s"$d/t", "k", Seq("id", "v"), 2)
        Layout.updateManifestPartitioned(spark, s"$d/t", Seq("id", "v"))
        s"graft_delete_partitioned('fx_ids', '$d/t', 'id,v', 'id')"
      },
      d => Seq(Row(s"$d/t", 1))),
    Face("graft_tt_commit", versioned)(
      { d => lake(s"$d/t", 1); s"graft_tt_commit('fx_new', '$d/t', 'id', 1)" },
      d => Seq(Row(s"$d/t", 2L))),
    Face("graft_tt_delete", versioned)(
      { d => lake(s"$d/t", 1); s"graft_tt_delete('fx_ids', '$d/t', 'id')" },
      d => Seq(Row(s"$d/t", 2L))),
    Face("graft_tt_compact", versioned)(
      { d => lake(s"$d/t", 2); s"graft_tt_compact('$d/t', 'id', 1)" },
      d => Seq(Row(s"$d/t", 3L))),
    Face("graft_tt_compact_small", versioned)(
      { d => lake(s"$d/t", 2); s"graft_tt_compact_small('$d/t', 'id', 1000000)" },
      d => Seq(Row(s"$d/t", 3L))),
    Face("graft_tt_rollback", versioned)(
      { d => lake(s"$d/t", 2); s"graft_tt_rollback('$d/t', 1)" },
      d => Seq(Row(s"$d/t", 3L))),
    Face("graft_tt_vacuum", schema("data_path" -> StringType,
        "files_reclaimed" -> IntegerType, "earliest_readable" -> LongType))(
      { d =>
        lake(s"$d/t", 1)
        TimeTravel.compact(spark, s"$d/t", Seq("id"), 1)
        s"graft_tt_vacuum('$d/t', 2)"
      },
      d => Seq(Row(s"$d/t", 2, 2L))),
    Face("graft_tt_vacuum_older", schema("data_path" -> StringType,
        "files_reclaimed" -> IntegerType, "earliest_readable" -> LongType))(
      { d =>
        lake(s"$d/t", 1)
        TimeTravel.compact(spark, s"$d/t", Seq("id"), 1)
        s"graft_tt_vacuum_older('$d/t', 0)"
      },
      d => Seq(Row(s"$d/t", 2, 2L))),
    Face("graft_tt_constrain", schema("name" -> StringType,
        "expr" -> StringType))(
      { d =>
        lake(s"$d/t", 1)
        TimeTravel.setConstraints(spark, s"$d/t", Seq("b_id" -> "id > 0"))
        s"graft_tt_constrain('$d/t', 'a_v', 'v > 0')"
      },
      _ => Seq(Row("a_v", "v > 0"), Row("b_id", "id > 0"))),
    Face("graft_tt_unconstrain", schema("name" -> StringType,
        "expr" -> StringType))(
      { d =>
        lake(s"$d/t", 1)
        TimeTravel.setConstraints(spark, s"$d/t", Seq("c_v" -> "v > 0",
          "a_id" -> "id > 0", "b_k" -> "k IS NOT NULL"))
        s"graft_tt_unconstrain('$d/t', 'b_k')"
      },
      _ => Seq(Row("a_id", "id > 0"), Row("c_v", "v > 0"))),
    Face("graft_tt_maintain_size", schema("data_path" -> StringType,
        "small_files_packed" -> IntegerType, "files_vacuumed" -> IntegerType,
        "orphans_reclaimed" -> IntegerType))(
      { d =>
        lake(s"$d/t", 2)
        s"graft_tt_maintain_size('$d/t', 'id', 1000000, 0)"
      },
      d => Seq(Row(s"$d/t", 4, 4, 0))),
    Face("graft_tt_maintain", schema("data_path" -> StringType,
        "compacted" -> BooleanType, "files_vacuumed" -> IntegerType,
        "orphans_reclaimed" -> IntegerType))(
      { d => lake(s"$d/t", 2); s"graft_tt_maintain('$d/t', 'id', 1, 1, 1)" },
      d => Seq(Row(s"$d/t", true, 4, 0))),
    Face("graft_tt_clone", schema("dest_path" -> StringType,
        "n_rows" -> LongType))(
      { d => lake(s"$d/t", 2); s"graft_tt_clone('$d/t', 1, '$d/clone')" },
      d => Seq(Row(s"$d/clone", 6L))),
    Face("graft_tt_gc", schema("data_path" -> StringType,
        "orphans_reclaimed" -> IntegerType))(
      { d =>
        lake(s"$d/t", 1)
        val data = Files.list(Paths.get(s"$d/t")).iterator().asScala
          .find(_.getFileName.toString.endsWith(".parquet")).get
        Files.copy(data, data.resolveSibling("orphan.parquet"))
        s"graft_tt_gc('$d/t')"
      },
      d => Seq(Row(s"$d/t", 1))),
    Face("graft_tt_checkpoint", schema("data_path" -> StringType,
        "checkpoint_version" -> LongType))(
      { d => lake(s"$d/t", 2); s"graft_tt_checkpoint('$d/t')" },
      d => Seq(Row(s"$d/t", 2L))),
    Face("graft_tt_vacuum_lineage", schema("data_path" -> StringType,
        "lineage_files_reclaimed" -> IntegerType))(
      { d =>
        lake(s"$d/t", 2)
        TimeTravel.checkpointLineage(spark, s"$d/t")
        s"graft_tt_vacuum_lineage('$d/t', 0)"
      },
      d => Seq(Row(s"$d/t", 2))),
    Face("graft_tt_upsert", versioned)(
      { d => lake(s"$d/t", 1); s"graft_tt_upsert('fx_upd', '$d/t', 'id', 1)" },
      d => Seq(Row(s"$d/t", 2L))),
    Face("graft_tt_replace_where", versioned)(
      { d =>
        lake(s"$d/t", 1)
        s"graft_tt_replace_where('fx_new', '$d/t', 'id > 100', 1)"
      },
      d => Seq(Row(s"$d/t", 2L))),
    Face("graft_group_publish", schema("group_path" -> StringType,
        "version" -> LongType))(
      { d =>
        lake(s"$d/t", 1); lake(s"$d/u", 2)
        s"graft_group_publish('$d/g', 'facts=$d/t,dim=$d/u')"
      },
      d => Seq(Row(s"$d/g", 1L))),
    Face("graft_scd_merge", versioned)(
      d => s"graft_scd_merge('fx_scd', '$d/t', 'k', 1)",
      d => Seq(Row(s"$d/t", 1L))),
    Face("graft_scd_delete", versioned)(
      { d =>
        Scd.merge(spark, s"$d/t", "k", spark.table("fx_scd"), 1)
        s"graft_scd_delete('fx_scd_keys', '$d/t', 'k', 1)"
      },
      d => Seq(Row(s"$d/t", 2L))),
    Face("graft_scd_apply", versioned)(
      { d =>
        Scd.merge(spark, s"$d/t", "k", spark.table("fx_scd"), 1)
        s"graft_scd_apply('fx_scd_up', 'fx_scd_keys', '$d/t', 'k', 1)"
      },
      d => Seq(Row(s"$d/t", 2L))),
    Face("graft_mv_create", schema("view_path" -> StringType,
        "version" -> LongType))(
      { d => lake(s"$d/t", 1); s"graft_mv_create('$d/t', '$d/mv', 'grp', 'v')" },
      d => Seq(Row(s"$d/mv", 1L))),
    Face("graft_mv_refresh", schema("view_path" -> StringType,
        "version" -> LongType, "files_read" -> IntegerType))(
      { d =>
        lake(s"$d/t", 1)
        MatView.create(spark, s"$d/t", s"$d/mv", Seq("grp"), Seq("v"))
        TimeTravel.commitAppend(spark.table("fx_new"), s"$d/t", Seq("id"), 1)
        s"graft_mv_refresh('$d/mv')"
      },
      d => Seq(Row(s"$d/mv", 2L, 1))),
    Face("graft_gc_staged", schema("live_path" -> StringType,
        "reclaimed" -> BooleanType))(
      { d =>
        Files.createDirectories(Paths.get(s"$d/live_compacting"))
        Files.write(Paths.get(s"$d/live_compacting/part-0"), Array[Byte](1))
        s"graft_gc_staged('$d/live', 0)"
      },
      d => Seq(Row(s"$d/live", true))))

  /** What a face may change under `dir`: every file's relative path and
    * length, and the head version of every lake table in it. */
  private def state(dir: String): (Seq[(String, Long)], Seq[(String, Long)]) = {
    val base = Paths.get(dir)
    val files = Files.walk(base).iterator().asScala
      .filter(Files.isRegularFile(_))
      .map(p => base.relativize(p).toString -> Files.size(p)).toSeq.sorted
    val heads = Files.list(base).iterator().asScala
      .map(_.getFileName.toString).filter(_.endsWith("_lineage")).toSeq.sorted
      .map { l =>
        val t = s"$dir/${l.stripSuffix("_lineage")}"
        t -> TimeTravel.latestVersion(spark, t)
      }
    (files, heads)
  }

  private def fresh(face: Face, tag: String): (String, String) = {
    val d = Files.createDirectories(Paths.get(root, face.name, tag)).toString
    (d, s"SELECT * FROM ${face.fixture(d)}")
  }

  test("the table covers every writing face once") {
    assert(faces.map(_.name).distinct.size == 38)
    val registered = GraftExtensions.catalog.map(_.name).toSet
    faces.foreach(f => assert(registered(f.name), f.name))
  }

  faces.foreach { face =>
    test(s"${face.name}: EXPLAIN writes nothing, one spark.sql applies " +
        "the write, an action applies nothing more, and the receipt keeps " +
        "its schema and rows") {
      val (d, q) = fresh(face, "run")
      val before = state(d)
      spark.sql(s"EXPLAIN $q").collect()
      assert(state(d) == before, s"${face.name}: EXPLAIN wrote")
      val df = spark.sql(q)
      val applied = state(d)
      assert(applied != before, s"${face.name}: spark.sql wrote nothing")
      assert(df.schema == face.receipt)
      assert(df.collect().toSeq == face.rows(d))
      assert(state(d) == applied, s"${face.name}: the action wrote again")
    }
  }

  test("a layout write's receipt counts the data files it added under " +
      "its root") {
    Seq("graft_zorder_write", "graft_zorder_write_partitioned",
        "graft_append_partitioned").foreach { name =>
      val (d, q) = fresh(faces.find(_.name == name).get, "files")
      def dataFiles: Int = state(d)._1.count(_._1.endsWith(".parquet"))
      val before = dataFiles
      val receipt = spark.sql(q).collect().head.getInt(1)
      assert(receipt == dataFiles - before, name)
    }
  }

  test("a SQL compaction runs every job under one root SQL execution, " +
      "the partitioned one on the leaf pool") {
    Seq("graft_tt_compact", "graft_compact_partitioned").foreach { name =>
      val (_, q) = fresh(faces.find(_.name == name).get, "roots")
      val roots = rootExecutionsDuring(spark.sql(q).collect(): Unit)
      assert(roots.size == 1 && roots.head.nonEmpty, s"$name: $roots")
    }
  }
}
