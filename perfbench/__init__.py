"""Benchmark of the crawl -> index -> serve engine; see README.md."""
