"""Zoo operators (relational, text, sketch, similarity, graph, ...), all
expressed as DataFrame transformations so Catalyst can optimize them
(SURVEY.md §2)."""
