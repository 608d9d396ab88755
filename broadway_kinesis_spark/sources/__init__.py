"""Streaming + batch sources (SURVEY.md §2.A): ``kinesis_efo`` is the one
Kinesis reader; ``kinesis_replay`` runs it over shard files."""
