"""Crawl benchmark: see README.md."""
