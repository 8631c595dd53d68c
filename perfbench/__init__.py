"""Crawl/combine benchmark: one command per workload, see run.py."""
