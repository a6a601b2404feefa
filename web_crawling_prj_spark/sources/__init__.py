from web_crawling_prj_spark.sources import pages_gen  # noqa: F401
