"""The service's per-row and report operators, all expressed as DataFrame
transformations so Catalyst can optimize them (SURVEY.md §2)."""
