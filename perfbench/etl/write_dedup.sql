-- backend: spark
-- Priority-ordered batch load into the persistent MinHash-LSH band index:
-- three admission tiers with deferred commits, closed by one flush.
-- ${didx} is a fresh index root per pass.

-- target=temp.tier_priority
select doc_id, text from documents where doc_id <= {{cut1}}

-- target=func.dedup_index_ingest(${didx}, tier_priority, admitted_t1, 1, 1)

-- target=temp.tier_general
select doc_id, text from documents where doc_id > {{cut1}} and doc_id <= {{cut2}}

-- target=func.dedup_index_ingest(${didx}, tier_general, admitted_t2, 2, 1)

-- target=temp.tier_tail
select doc_id, text from documents where doc_id > {{cut2}} and doc_id <= {{cut3}}

-- target=func.dedup_index_ingest(${didx}, tier_tail, admitted_t3, 3, 1)

-- target=func.dedup_index_flush(${didx})

-- target=temp.admitted_corpus
select doc_id from admitted_t1
union all select doc_id from admitted_t2
union all select doc_id from admitted_t3

-- every admitted document is in the committed index, or has too few
-- words to shingle and so has no bands
-- target=func.snapshot_view(${didx}, index_bands)

-- target=check.admitted_are_indexed_or_bandless
select (select count(*) from admitted_corpus) as actual,
       (select count(*) from index_bands where band_id = 0)
       + (select count(*) from documents
          where doc_id <= {{cut3}} and size(split(text, ' ')) < 3)
           as expected
