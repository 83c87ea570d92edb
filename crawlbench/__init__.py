"""Crawl benchmark: one workload per process, measured from outside the
engine through its public seams. Entry point: ``crawlbench/run.py``."""
