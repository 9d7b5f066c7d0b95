"""Sources & sinks (SURVEY.md §2.1 S-mappings)."""
