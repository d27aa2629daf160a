"""NLP feature + topic-model pipelines (SURVEY §2.9 M4-M6, M12; §3.2).

Reference path (complaints_narrative_LDA.py): Python-UDF clean_text →
StopWordsRemover → CountVectorizer → IDF → LDA(k=25, em, seed=123) →
UDF-mapped topic words over a broadcast vocabulary.

Engine rewrites (SURVEY §4.3):
- clean_text is native column expressions (functions.textfns.
  clean_text_tokens) — no Python worker in the hot path;
- topic-word mapping is posexplode(termIndices) joined to a vocabulary
  DataFrame — no broadcast variable, no UDF (reference
  complaints_narrative_LDA.py:109-120);
- optimizer defaults to 'online' (minibatched) for scale; 'em' stays
  available for reference parity.
"""

from __future__ import annotations

from pyspark.ml import Pipeline
from pyspark.ml.clustering import LDA
from pyspark.ml.feature import IDF, CountVectorizer, StopWordsRemover
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import textfns as TF


def nlp_features(
    df: DataFrame,
    text_col: str,
    vocab_size: int = 5000,
    min_df: float = 2.0,
) -> tuple[DataFrame, list[str]]:
    """clean → stopwords → CountVectorizer(TF) → IDF (reference
    complaints_narrative_LDA.py:44-78).  Returns (features df, vocabulary).
    """
    tokens = df.withColumn("cleaned", TF.clean_text_tokens(text_col))
    remover = StopWordsRemover(inputCol="cleaned", outputCol="tokens")
    cv = CountVectorizer(
        inputCol="tokens", outputCol="raw_features",
        vocabSize=vocab_size, minDF=min_df,
    )
    idf = IDF(inputCol="raw_features", outputCol="features")
    model = Pipeline(stages=[remover, cv, idf]).fit(tokens)
    return model.transform(tokens), list(model.stages[1].vocabulary)


def lda_topics(
    spark: SparkSession,
    featurized: DataFrame,
    vocabulary: list[str],
    k: int = 25,
    seed: int = 123,
    optimizer: str = "online",
    max_iter: int = 20,
    terms_per_topic: int = 10,
) -> tuple[DataFrame, DataFrame]:
    """LDA fit + topic table (reference complaints_narrative_LDA.py:86-127).

    Returns (topics, doc_topics):
    - topics: (topic, term, weight) — describeTopics' termIndices mapped to
      words via posexplode + vocabulary join (replaces the reference's
      broadcast-variable UDF D2);
    - doc_topics: per-document topicDistribution, keyed by ``doc_id``
      when ``featurized`` has one, else next to every column of
      ``featurized``.
    """
    lda = LDA(
        k=k, seed=seed, optimizer=optimizer, maxIter=max_iter,
        featuresCol="features",
    )
    model = lda.fit(featurized)
    described = model.describeTopics(terms_per_topic)
    vocab_df = spark.createDataFrame(
        list(enumerate(vocabulary)), "term_id int, term string"
    )
    topics = (
        described.select(
            "topic",
            F.posexplode(
                F.arrays_zip("termIndices", "termWeights")
            ).alias("pos", "tw"),
        )
        .select(
            "topic",
            F.col("tw.termIndices").alias("term_id"),
            F.col("tw.termWeights").alias("weight"),
        )
        .join(F.broadcast(vocab_df), "term_id")
        .select("topic", "term", "weight")
    )
    doc_topics = model.transform(featurized)
    if "doc_id" in featurized.columns:
        doc_topics = doc_topics.select("doc_id", "topicDistribution")
    return topics, doc_topics
