"""Crawl-and-rank benchmark; the entry point is perfbench/run.py."""
