"""End-to-end benchmark of the email_etl_spark engine (see NOTES.md)."""
