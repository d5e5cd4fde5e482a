package graft

import graft.operators.{Dedup, Pca, QualityModel, Similarity, TextAnalysis, Tokenizer}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** A warm load (schema recorded by the saver's `SchemaCache.noteWrite`)
  * must read exactly what a cold load (parquet footer and partition-value
  * inference) reads. One row per saver that notes a schema, plus the
  * appends and merges that write into or from noted directories: the
  * partition columns `cid`, `bucket` and `band` are where a noted type
  * could differ from the inferred one.
  */
class SchemaCacheSpec extends SparkSpec {

  private lazy val emb = Tables.embeddings(spark, sf)
  private lazy val docs = Tables.documents(spark, sf).select("doc_id", "text")
  private def half(df: DataFrame, idCol: String, even: Boolean) =
    df.filter((col(idCol) % 2 === 0) === even)

  /** (saver, save into a fresh directory → the noted paths under it) */
  private val savers: Seq[(String, String => Seq[String])] = Seq(
    "IVF centroids + cid-partitioned lists" -> { d =>
      Similarity.ivfTrain(spark, emb, nlist = 4).save(d)
      Seq("centroids", "lists")
    },
    "IVF lists after ivfAppend" -> { d =>
      Similarity.ivfTrain(spark, half(emb, "vec_id", true), nlist = 4).save(d)
      Similarity.ivfAppend(spark, d, half(emb, "vec_id", false))
      Seq("centroids", "lists")
    },
    "SQ8 params + codes, then sq8Append" -> { d =>
      val p = Similarity.sq8Train(emb)
      Similarity.sq8Save(spark, p, Similarity.sq8EncodeCorpus(half(emb, "vec_id", true), p), d)
      Similarity.sq8Append(spark, d, half(emb, "vec_id", false))
      Seq("params", "codes")
    },
    "IVF-SQ8 centroids + cid-partitioned codes + params" -> { d =>
      Similarity.ivfSq8Train(spark, emb, nlist = 4).save(d)
      Seq("centroids", "codes", "params")
    },
    "IVF-PQ centroids + cid-partitioned codes + codebooks" -> { d =>
      Similarity.ivfPqTrain(spark, emb, nlist = 4, m = 8, ksub = 16).save(d)
      Seq("centroids", "codes", "codebooks")
    },
    "IVF-OPQ rotation + codebooks + lists" -> { d =>
      Similarity.ivfOpqTrain(spark, emb, nlist = 4, m = 8, ksub = 16, opqIters = 1).save(d)
      Seq("rotation", "codebooks", "centroids", "codes")
    },
    "BM25 bucket-partitioned postings/df + stats" -> { d =>
      TextAnalysis.bm25IndexBuild(docs, "doc_id", "text", buckets = 4).save(d)
      Seq("postings", "df", "stats")
    },
    "BM25 after bm25IndexAppend" -> { d =>
      TextAnalysis.bm25IndexBuild(half(docs, "doc_id", true), "doc_id", "text", buckets = 4).save(d)
      TextAnalysis.bm25IndexAppend(spark, d, half(docs, "doc_id", false), "doc_id", "text")
      Seq("postings", "df", "stats")
    },
    "BM25 bm25IndexMerge output" -> { d =>
      TextAnalysis.bm25IndexBuild(half(docs, "doc_id", true), "doc_id", "text", buckets = 4).save(s"$d/a")
      TextAnalysis.bm25IndexBuild(half(docs, "doc_id", false), "doc_id", "text", buckets = 4).save(s"$d/b")
      TextAnalysis.bm25IndexMerge(spark, s"$d/a", s"$d/b", s"$d/m")
      Seq("m/postings", "m/df", "m/stats")
    },
    "positional bucket-partitioned postings + meta, then append" -> { d =>
      TextAnalysis.positionalIndexSave(
        TextAnalysis.positionalIndexBuild(half(docs, "doc_id", true), "doc_id", "text", buckets = 4), d)
      TextAnalysis.positionalIndexAppend(spark, d, half(docs, "doc_id", false), "doc_id", "text")
      Seq("postings", "meta")
    },
    "positional positionalIndexMerge output" -> { d =>
      Seq("a" -> true, "b" -> false).foreach { case (sub, even) =>
        TextAnalysis.positionalIndexSave(TextAnalysis.positionalIndexBuild(
          half(docs, "doc_id", even), "doc_id", "text", buckets = 4), s"$d/$sub")
      }
      TextAnalysis.positionalIndexMerge(spark, s"$d/a", s"$d/b", s"$d/m")
      Seq("m/postings", "m/meta")
    },
    "LSH band-partitioned buckets + shingles" -> { d =>
      Dedup.lshIndexBuild(docs, "doc_id", "text", 3).save(d)
      Seq("buckets", "shingles")
    },
    "QualityModel weights" -> { d =>
      QualityModel.saveWeights(spark, Array(0.5, -1.25, 2.0), d)
      Seq("")
    },
    "PCA model" -> { d =>
      Pca.savePca(spark, Pca.PcaModel(Array(0.1, 0.2), Array(3.0, 1.0),
        Array(Array(0.6, 0.8), Array(-0.8, 0.6))), d)
      Seq("")
    },
    "BPE merge table" -> { d =>
      Tokenizer.saveMerges(spark, Tokenizer.bpeTrain(docs, "text", 10), d)
      Seq("")
    })

  // no saver writes a binary column, so a row's string form is its value
  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  savers.foreach { case (label, save) =>
    test(s"SchemaCache: warm load equals cold load — $label") {
      val dir = java.nio.file.Files.createTempDirectory("graft-schemacache").toString
      val paths = save(dir).map(p => if (p.isEmpty) dir else s"$dir/$p")
      paths.foreach { p =>
        val warm = SchemaCache.read(spark, p)
        val cold = spark.read.parquet(p)
        assert(warm.schema === cold.schema, s"$p: noted ${warm.schema.treeString} " +
          s"but inference reads ${cold.schema.treeString}")
        val rows = sortedRows(cold)
        assert(rows.nonEmpty, s"$p is empty")
        assert(sortedRows(warm) === rows, p)
      }
    }
  }
}
