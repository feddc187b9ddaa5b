"""``PAGE_DDL``: the schema of a landed page file, for ``readStream``.

A file-source stream needs its schema up front.  The tests and the
benchmark's kg_stream workload read their page drops with it, and import
it from this module.
"""

PAGE_DDL = ("url string, warc_ts timestamp, html binary, text string, "
            "lang string")
