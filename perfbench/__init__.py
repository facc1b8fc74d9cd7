"""Steady benchmark of the crawl frontier, the crawl loop and the analytics gates."""
