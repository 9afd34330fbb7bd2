import duckdb
import pytest
from pyspark.sql import functions as F

from sema_spark.functions.text import (
    content_fingerprint,
    language_id,
    quality_score,
    token_count_bpe_ish,
    word_count,
)


@pytest.fixture(scope="module")
def texts(spark):
    rows = [
        (0, "the cat and the dog went to the market and it is good"),
        (1, "der hund und die katze und das haus ist ein traum"),
        (2, "le chat et la maison est un reve les amis"),
        (3, "el perro y los gatos y las casas es un sueno"),
        (4, "!!! ??? ... ,,, ;;; :::"),
        (5, "x"),
    ]
    return spark.createDataFrame(rows, "id long, text string")


def test_language_id(spark, texts):
    got = {r.id: r.lang for r in texts.select("id", language_id("text").alias("lang")).collect()}
    assert got[0] == "en" and got[1] == "de" and got[2] == "fr" and got[3] == "es"


def test_counts_and_quality(spark, texts):
    row = texts.filter("id=0").select(
        word_count("text").alias("w"),
        token_count_bpe_ish("text").alias("t"),
        quality_score("text").alias("q"),
    ).collect()[0]
    assert row.w == 13
    assert row.t == 13
    assert 0.0 <= row.q <= 1.0
    junk = texts.filter("id=4").select(quality_score("text").alias("q")).collect()[0]
    good = texts.filter("id=0").select(quality_score("text").alias("q")).collect()[0]
    assert junk.q < good.q


def test_fingerprint_normalization(spark):
    df = spark.createDataFrame(
        [(0, "Hello   World"), (1, "hello world"), (2, "HELLO\n\tWORLD"), (3, "other")],
        "id long, text string",
    )
    fps = {r.id: r.f for r in df.select("id", content_fingerprint("text").alias("f")).collect()}
    assert fps[0] == fps[1] == fps[2] != fps[3]


def test_spark_duckdb_parity_on_documents(spark):
    """The dual-expressibility contract: same formulas in DuckDB give the
    same values on the real documents table."""
    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    got = {
        r.doc_id: (r.lang_guess, r.n_words, r.n_tokens, float(r.quality), r.fingerprint)
        for r in docs.select(
            "doc_id",
            language_id("text").alias("lang_guess"),
            word_count("text").alias("n_words"),
            token_count_bpe_ish("text").alias("n_tokens"),
            quality_score("text").alias("quality"),
            content_fingerprint("text").alias("fingerprint"),
        ).collect()
    }
    con = duckdb.connect()
    en, de, fr, es = (
        r"\b(the|and|of|to|is|a)\b",
        r"\b(der|die|das|und|ist|ein)\b",
        r"\b(le|la|les|et|est|un)\b",
        r"\b(el|los|las|y|es|un)\b",
    )
    sql = f"""
    with c as (
      select doc_id, text,
        len(regexp_extract_all(lower(text), '{en}')) as c_en,
        len(regexp_extract_all(lower(text), '{de}')) as c_de,
        len(regexp_extract_all(lower(text), '{fr}')) as c_fr,
        len(regexp_extract_all(lower(text), '{es}')) as c_es,
        (case when trim(text) = '' then 0
              else len(regexp_split_to_array(trim(text), '\\s+')) end) as n_words,
        len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) as n_tokens,
        (length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g'))) / nullif(length(text), 0) as pr
      from read_parquet('{sf}/documents.parquet'))
    select doc_id,
      case when c_en >= greatest(c_de, c_fr, c_es) then 'en'
           when c_de >= greatest(c_fr, c_es) then 'de'
           when c_fr >= c_es then 'fr' else 'es' end as lang_guess,
      n_words, n_tokens,
      round(0.4 * least(n_words / 100.0, 1.0)
          + 0.3 * (1.0 - least(coalesce(pr, 1.0) * 10.0, 1.0))
          + 0.3 * least(coalesce(c_en / nullif(n_words, 0), 0.0) * 5.0, 1.0), 6) as quality,
      sha256(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) as fingerprint
    from c
    """
    for doc_id, lang, nw, nt, q, fp in con.execute(sql).fetchall():
        g = got[doc_id]
        assert g[0] == lang, doc_id
        assert g[1] == nw and g[2] == nt, doc_id
        assert abs(g[3] - float(q)) < 1e-9, (doc_id, g[3], q)
        assert g[4] == fp, doc_id
