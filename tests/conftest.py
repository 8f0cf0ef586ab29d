import pytest

from document_text_extraction_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("dte-tests", master="local[8]", shuffle_partitions=8,
                  extra_conf={"spark.driver.memory": "8g"})
    yield s
    s.stop()


@pytest.fixture(scope="session")
def derived_fields(spark):
    """payloads → the ``fields_col()`` struct of each payload's
    ``extract_df`` row, as dicts in input order."""
    from document_text_extraction_spark import pipeline
    from document_text_extraction_spark.functions.fields import fields_col

    def run(payloads: list[bytes]) -> list[dict]:
        urls = [f"https://t.example/{i}" for i in range(len(payloads))]
        pages = spark.createDataFrame(list(zip(urls, payloads)),
                                      "url string, html binary")
        rows = (pipeline.extract_df(pages, n_buckets=4)
                .select("url", fields_col().alias("f")).collect())
        got = {r.url: r.f.asDict() for r in rows}
        return [got[u] for u in urls]
    return run
