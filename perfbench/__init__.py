"""End-to-end and per-layer benchmark of ``CrawlEngine.crawl`` (see NOTES.md)."""
