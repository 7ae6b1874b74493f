"""Sources: the byte-offset file-tail data source
(``sources.tail_source``)."""
