package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import org.scalatest.funsuite.AnyFunSuite

/** Pins the gated-query registry: which queries `Verify` runs, which of
  * them carry a DuckDB oracle, and the exact oracle strings (by sha256), so
  * a moved query, a dropped oracle or a one-character change to any oracle
  * fails here before it can change the correctness gate.
  */
class GatedRegistrySpec extends AnyFunSuite {

  /** The gated queries that carry no oracle (DuckDB cannot express them). */
  private val OracleFree = Set("d_simhash_pairs", "d_simhash_sig", "t_bpe_merges", "t_bpe_segment",
    "t_entropy", "x_extract_results")

  private val OracleSha256: Map[String, String] = Map(
    "d_cdc_chunks" -> "03494e1e858c545bcee4b95788155e3ccca07844923e974c5640f3fc88c1a46c",
    "d_cdc_delta" -> "ffb18a7541d9f6a80ab89039f6517ca9e1614fcde2db04c768d3dd92d23eacd1",
    "d_cdc_shared" -> "01e40d3b9f9712edd4a1d78f350fd7701d29620b99b9e25ccdeef51a116a6b03",
    "d_containment" -> "8910cd178285839ff32e9d2c818f57f0529be669f9ff4c67540f2eee9067e8db",
    "d_delta_new" -> "63af16da00ccda3f7d6edd193bfe0b338dd3c7c0ea4e680f489a99482f192355",
    "d_drop_dup_paras" -> "080f5d11be3083a37146000d967607428eb145588e970023ab8cc3261bc2a4f7",
    "d_drop_freq_lines" -> "15f72ad887ea402071a50b3086a88442ec0566ec0d64c2ef55ea01fac6ba96e5",
    "d_drop_neardup" -> "1fe9771de2b3a81d5761d0a4137c61fef106034655cf497aff11de08ee40ae03",
    "d_drop_neardup_best" -> "7c3343666821cc7a85b76f24a40f9293cc93e05c0a45ca771cede92287daecae",
    "d_drop_neardup_cc" -> "d42f02bdde3e5f9b3c92a599f84df91b347ebd84c741f3a2df7a9dcd77a30b88",
    "d_drop_substrings" -> "ff0f5a3bdaf5800e3b4601ac9f30e64de0ae703ff378503ace442d622d227cb2",
    "d_exact_groups" -> "18715d19535838b0a102ba2c360b05da7d4ebcf7f4b3d5db3c193e29bf12b7bc",
    "d_freq_grams" -> "024bb2a250ebb2b8db3cd085b73df82f658fc8ac38b3b9f4f52e7848295e8419",
    "d_jaccard_pairs" -> "b77177f33f1111178c03e5a5c7968e6e87ed84e18d3f602d05a62c32d508ef41",
    "d_lsh_jaccard" -> "d29e5becfd1d0307aac7c33241947d2291bb24e931074cbf1d85c7ecebd6583b",
    "d_lsh_pairs" -> "a808ccb94b3075973269d5def612385947d9c7164ea7f25e9401b5cfb7f872f4",
    "d_minhash_est" -> "7221faf8fc5e3fab651949a44ea35c461e212bf5faa4d34a7d57393b2095a662",
    "d_minhash_sig" -> "dfe9c9fa103a622fc896089e5bb0a27c62841654b9ec2b4121be568c14108294",
    "d_substring_spans" -> "c8b42f2f0f021129dfff9261b3ae452328df1cd9b238845d6b4f6d6ca3778115",
    "d_winnow_fp" -> "43292b3a88f18852049840c14a51c0160922240b66486235bbe29e84bade3a5d",
    "d_winnow_pairs" -> "c3c3b4921aa48fba0f22dc3a80b324c1e5fb7d42dac37de56a56d219407ea7f5",
    "e_asof_join" -> "b4dbc0a0eec11f29f78aab58448019d3ed7dc0e3920ec97fb5f9b61031bc8ffb",
    "e_funnel" -> "40fa63419e3443382c7315cf53e4e191fe6b06a878af7d3212dc8d81787a5990",
    "e_latest_asof" -> "f60c63ee9d6a602146e99aac0448cdb54ba36f20eac970daa39e38ee8039942c",
    "e_range_join" -> "44330910aed98117db6ce7ddcc02c4a5e0aa7a81e096bbec58a231776624d047",
    "e_retention" -> "bb0f683c6c5e36df2467d8724fceb7f91a3162c5e921803af8c5b1faa297496a",
    "e_sessionize" -> "7afe3a3dc1b0020dec468ee695c2853f6926b9c8ac4d59e9459443d45e548659",
    "e_transitions" -> "ae8b8e3567ef3bb7b07b9f4b7bfa12883f6ff010421893bc80cd6c6cf1f25e1c",
    "m_batch_score" -> "929286df018b4caa8844b9105db091ac6dd01e77b11264d12d8236a8ae95ac9a",
    "m_features" -> "9cc668ce3923e17428f1e1ae002b51e194111310f9eb109ee016e3c74aca6a7e",
    "m_frames" -> "83481e29e24badb9a635f4a3244f1adf656cb036f9cc3aed5f3abda66595faa0",
    "m_media_meta" -> "7187fbaef54081e6593c40dbcfa6bc1f5327972fa9db9820e61dda2873a1424e",
    "m_resize" -> "cb9539cf36d277181764fff4e2782194fa6d99485f98bf970c22ee86926cd139",
    "p1_content_hash" -> "9134d40dffb5c749e06497627bbfc8f1fec752e0b39d1c991bc7f5ac8b8a7a82",
    "p3_cache_key" -> "25ec07c27fceaea760b499787f3a161c3583565c8861b9fa5f2518978a06518a",
    "p6_layout_zone" -> "97c6fa11254f605eefdd45e3b8985e2aea192b86f26176e2db2c606724cb1c13",
    "q_block_pack" -> "430af3ec9946c5a4c6a75f2e178348eb6669def3e7abce0278f4bbbefaacb23c",
    "q_bucket_join" -> "64f08a3b89f8e180c8df15517427dcdbb0f8228a9f96b2f1f69873427b544310",
    "q_charset_decode" -> "d47ebd511e64d765d60bdbabacea2d7158897850ad106e32bd219a103ef138e2",
    "q_clean_corpus" -> "30653e4318f8316c614747548c25c0fc0f88c9ed34aafcd6b2c688d69dc5f07d",
    "q_corpus_card" -> "f8d55cdf21f239f2671220a183a14a7a520cb704acd277be5a94e6f1d6fe06e9",
    "q_corpus_digest" -> "facc7457d265623c1c029788aea937727db118ce95298882eeb1b3d13649fc83",
    "q_crawl_plan" -> "816475b0b121092b44fef5a0f2d9be9df8189f234674d947392dfd52740cdef6",
    "q_curriculum" -> "2bb471522073345a96d470737e23074fc206ecbfedfd883688aa23fce22944fe",
    "q_decontaminate" -> "7f07c450429949eb27bae61e482cb2e47b2392f4d1e1dea08b5e4dfc190bd1cf",
    "q_decontaminate_spans" -> "b26678bc4115f6736e28249a2530bbe7f7362cf9bca8b4b7970ef4a8a5189aab",
    "q_dup_counts" -> "f87598b534049c07ad39394d18f1311dd665865a4a6f025175449c9be4192142",
    "q_epoch_shuffle" -> "4180ea780dc741c37c5caf18b83aebbfb7dabed79c051ecf14b0b3782847c647",
    "q_heavy_domains" -> "cffc86893a340cdf07aaf4134a08199214ed1dc3ed184636454d72609577e224",
    "q_incr_view" -> "dfc0f25ca6c73b2f4a636c243fceb0387d91df70af7d65aa0d6e17608cc2ee68",
    "q_kmv_distinct" -> "b7f5adbf42996e3afc4547767e68234e4a42600e1e71703a5f3d10a257894f93",
    "q_quantile_sample" -> "3101f0d4d5c746cc8104486d14cc5cdafde05e0e7390b2d62790c93df5da36ac",
    "q_sample_budget" -> "a749d106ea10dba4380a0150a167ff413f21427f05719606fe41a87b9ea340cb",
    "q_sample_dsir" -> "4b97006e47ac54d7227bc87e35314291bf405805c68a490ed2bf0d5284e8cdf6",
    "q_sample_epochs" -> "371b3019b3c35ba44e63519f2f700c98af4d003ce979b95be9f49050c4139cf2",
    "q_sample_stratified" -> "732c26b9663add730b6a6dfa09de6ac31c37abae7f8e99e47a267d956a39c675",
    "q_sample_temperature" -> "82793522ccc3a51f1a2594d40e98bd0c9c2114938a31bddb108301a6d167ef0b",
    "q_seq_pack" -> "452b09c34e5a300aaf48e9413680b07367b2167b2daee8611b395ad6d97cf525",
    "q_shard_pack" -> "f2a40b32522d3b36df957097d0153b0dc26472ddda075653e95e22b5c1bf7273",
    "q_sniff_route" -> "0d3ccd09ef049a1e8f09af120e3a8bf4bb2feef0b61cbb69ee34cd3a593f63c7",
    "q_split_holdout" -> "927b910b57ca2b3e9c3df89ae3890f030c709ce6ab7850eb0748b4e8a3ea5191",
    "q_status_counts" -> "1c597b977f026403c5d4ae112b5df6566b03a95e2016fc5999d01ee3d63eb000",
    "q_stream_window" -> "4bea43d35ad31924a86e0c347af96fa61d0f3e84b07bbdf5542280d1654737e5",
    "q_table_appends" -> "e4119f0be8e9110c8c543eb1b2e7ee1a8635e67ed0be5e62a868192b35b046ae",
    "q_table_diff" -> "a906e0f074eba3fecc69c40c761598762b6e051ed168279abb651a085607cfba",
    "q_table_evolve" -> "4ebf3f987e7cdc4addb06a2c0759809661039d8943c3e60dba62fa1bd7e989ba",
    "q_table_point" -> "da269dcb16609313b8783bf37f6ddc1398ff6d740b57825cc0c1688c76b545dd",
    "q_table_upsert" -> "8bfb10200ea22a01bcae92b24459565aed10ae997e0fa6ce467310dee5f8bd14",
    "q_tier_mix" -> "3db0f8dfb11b625fc892bc8fd5b630da4cd888504b0ff5241163771f71820a9b",
    "q_tier_sample" -> "e39ddac8c57c213a775fa241b6e8514babedb8bc273e969c442b27bd4394d8b3",
    "q_training_export" -> "cf2e1e5455213ce17a231c9ae6cbf9b8892beebfd0aeab74e06a3aa7a8c256cf",
    "q_warc_extract" -> "1c597b977f026403c5d4ae112b5df6566b03a95e2016fc5999d01ee3d63eb000",
    "q_warc_fetch" -> "a8cc90f4487c92676b3cc1841789313110eba190b9df3353c1748520b61c4bb9",
    "q_warc_roundtrip" -> "2080e39975303cb28756f89cb20abd5e2afc6018f54248c42fe0a9c9593e0739",
    "q_web_ingest" -> "4a4e0cec62808330f189e26784819b701da4ddb997613c56a6e1aba9842a139c",
    "q_zorder" -> "0d78b40ce0de8abc46c2bb8d8058efc22be08cfef79e54dc18b27f2699e0626a",
    "s_ann_topk" -> "5bb3f07fb3cbc05767d31598a1984ff0179102b97d915c762412d637a7539885",
    "s_bitext_mine" -> "6915aae14d16a1d9a8c6a1fa34167e69b6783a76032b577d6835368a17ecfc39",
    "s_bitext_mine_lsh" -> "7fd2002f6e30428aeebdae9f4c2bed8f4f5c6645b5e1c5d1fa912b5ed4af47e6",
    "s_cosine_topk" -> "e2b4dec744e5e13ce54d18c09c18c385180fd44af1dc7c57788e31d231d9d882",
    "s_dot_topk" -> "b0741c28ebe6435adb5f6f736c25a9a8c242b6cce1ab187c46028d1379c2dba3",
    "s_embed_drop_cc" -> "ea07412d835b7cf9f30e41050c4f8ed2091aa07cdac4e103868001117e2dc784",
    "s_embed_neardup" -> "60a78c6513740c26fbb09db123ebf4214d520f72a20b260d99053e80fb40cad1",
    "s_embed_neardup_lsh" -> "468238ade77268c8bf57aa0ef22418bdd6d8eaf8c32c669a6b8d72a945a61b7e",
    "s_ivf_topk" -> "a3eee149c8fbac7b851c7649b4f187bb085bb093c0925677fe24b3eafa24a853",
    "s_ivfpq_rerank" -> "9f69c2130bd85200bbe7869781580ed9a5dc71d52426b572f480afcf0a1a359e",
    "s_ivfpq_topk" -> "5530ddb751df15613cbd03976f5b9b77284d2588a372a682ca1465fcb25798b2",
    "s_pq_topk" -> "1e3a79cce7c146b9879b0f20ce7aa9b68f693d7ca53c81b3c49a8db3c750cf21",
    "s_semdedup" -> "102ca55c3ac73eb42efe16871320a264a5f1ea05fbb5349bc83702a50776272a",
    "t_bm25_indexed" -> "65568f458d0e40b8cb29690f0400ff396cc985563598e61c2bc2ed119efa8958",
    "t_bm25_topk" -> "65568f458d0e40b8cb29690f0400ff396cc985563598e61c2bc2ed119efa8958",
    "t_bpe_pairs" -> "ae374422cf7251fa2d17474fc1e9cb488b9541a6b47eb084f5955e0425c11b3e",
    "t_c4_clean" -> "ec16d0a8565728b92360b1044e0393f5ab4993a1078e300ed6dd565989c233ed",
    "t_chunks" -> "80e2a30bf3be460071f0de48734b3ba1636a70425ec81a296bee4fffd1111c6c",
    "t_fertility" -> "11abc2e6a9bb8d74927d0084e32f37be3f51362eb0d5f6ff94f1de8df2e7e2ae",
    "t_fingerprint" -> "73dcc22a83e2470b6fde8589f954c04d1a57326b6047f681cb38561f7b3b65f5",
    "t_gopher" -> "8453be284c52084718b5be8b44b1faffd4e24912bf651c9f554646328a56d31f",
    "t_keyphrases" -> "d2ac60742ccd26a8f702bc3e2d071784505411251f83dd3e47247ca1b350d227",
    "t_lang_id" -> "6b951def1e145f714b243a9a9faa05904164261434503051da912a5774616546",
    "t_len_quartiles" -> "0ded37c45e0533a01a97b9730fc7c64f2b85819c768a0be4907e65ea6649ed84",
    "t_lm_backoff" -> "2e29009db95acf47fa3614e5ca0ffb315b5cd73a2a32800acdfd8d31ff1baa4a",
    "t_lm_score" -> "5b52d7ca9e42c64e408298f5f29672c1e4976ceab6e9fd09ac4b9ba21f7fd729",
    "t_mojibake" -> "af37cdb0bdc34f40ed16d6403e4c684f1f2dfcc990445394cc76a52e1509bfb5",
    "t_nfc" -> "d63095fc546ca10f03491a2a256e3afe3a9268367accb319c140c7d45016600b",
    "t_oov_rate" -> "8d0198da6aa47268e3fa44f384eece27f60845e6ce5eea40e51b2b96f81c0f62",
    "t_para_lang" -> "a2f79eff858dc4f928508b5d879e1d86b3707a9a21c1f228a0ca24fc47aef761",
    "t_phrase" -> "35ea2b6a0988511abfc629c27a60c1052aa326ac1943b30be27a07d03359d620",
    "t_phrase_indexed" -> "35ea2b6a0988511abfc629c27a60c1052aa326ac1943b30be27a07d03359d620",
    "t_quality" -> "cd855a11d4264b4a80a44f0b51e5ac691d54a1d8db7f3c145e5b91a96cec242d",
    "t_quality_nb" -> "b2543addfb5710bf21c5332243e18fa38b9e4c69799b3473fa4a1312d6747d79",
    "t_quality_tiers" -> "a715e0658eba157c460076bc0eb1b9e7c9db73194cb422b25b9e9eb43ef4c68e",
    "t_redact" -> "3841ee35205e75f3fc4259e4259f6cc1f6505960351c91126022ae21f1069d34",
    "t_repetition" -> "8809c3cdde89da866c887c2be03ba1c1ba861971816f09904f190cf0ac1de529",
    "t_script" -> "83f0c1130c7d1dc8936c298aea40f3feb2daba91eee9cf60eb84b054e730e11d",
    "t_stopword" -> "106008e5b0beeeefdfb75a133ef861561b457885b02ada3135cd1a9158451d56",
    "t_strip_invisible" -> "a0d8f3602c28bbc5a63cdfcdd5d4f0447d55841fce831b43dd7795ffb8932b2a",
    "t_token_bpe" -> "476224246199bca16d8ae5306a13941c7c1bb27edd1995d90280a79392e9fbb2",
    "t_token_count" -> "c7beda3fcec75b8bd11e66c9533f4a7c45c7d83fe22a57e4b85b4ccf92821ab8",
    "t_vocab_topk" -> "b86b1d6f0394a667457d3fb2f748b3b829fc0e3971065fa7d1f0a345160dd853",
    "w_anchor_text" -> "829c58071fc37247d287c92bd0e4285f5763cbc8910f9a92f0a397dc41426eb8",
    "w_blocklist_keep" -> "a46bf123e3e7973d1c26b7a1975253cec4d972054c6a7fd9c0d79161f8d363e0",
    "w_cdx_index" -> "2689c2d04c1f23a6193819441d17a8e4ace52d8fae2ccb8d003fd67733c24b01",
    "w_domain_cap" -> "976261eb2cc9a9210732dea5924067cddd67a98125522f703857a74ae06673fb",
    "w_domain_gini" -> "a06ce7cfb8eac2265b7274941b5161c665dac7c95801277f033a71734bdb1b6b",
    "w_domain_prior" -> "6903fe4a4976fb4f9be6c243504dedca6caf1b0be9deb181ab0091ecee49cd74",
    "w_domain_rank" -> "47c14e8f28db6782aba07643ac634e4af54d3903358225b1b6192de850521f91",
    "w_domain_stats" -> "211bef681d72fd9bf20f26831820227f3a4366ed43fd89a5bc141c39453a3966",
    "w_frontier" -> "7a2d712bac4a527e9545e5e5286d9ba6e5b480830e5cb986f402953084857fc5",
    "w_hits" -> "86a34f77aa2bba2911303a1882bd77585d73bd5ed232de0e3f213a348581c13b",
    "w_hits_deltas" -> "0f4ce2cd993bff710fd9c0027d3415d6d5a738ac406d7c0d5f04990cebc9f38e",
    "w_link_graph" -> "5cb14f778bd490fdd40c7d6ba57c46fbaf88f499def07f42ce13c720f47bc652",
    "w_link_recip" -> "f49ded7f99ad6d32b2ddd0e62f77768183a8c8d0f5c66447d75f095ec0f5f79d",
    "w_link_triangles" -> "7ab0070a0e8d6da00e9da55c88c7d972942bd1019322a81061c054ccac084525",
    "w_meta_extract" -> "f9434a4d8847c2258e6ff55fa4ad209d1164bebde2eba594590f4a9d32ae42d7",
    "w_mirror_families" -> "8fb31253884e3bd16e27ba6f1bef74ebedaee35de9d890a309d2fc0a9e8931a6",
    "w_mirror_pairs" -> "ebef7b7f46dc1138c7cc78f1b6225750944be49d0cd3ec19bec5134d4367ae9e",
    "w_rank_deltas" -> "f96f8af60407b914e46e52ecdb474c37bcf6293ec48846eaa0c79c27071b910c",
    "w_recrawl_sched" -> "f12a356c458f50add1975c38df83da94f991e351a46d9e021692f3156e71028c",
    "w_redirects" -> "acfb7aaea9f1d99713f3644c7b7e595f53bb6c2ddadc9c536ab28c2ff64bf959",
    "w_robots_directives" -> "2171e34b9ace7eaa2b37b327f5ca356e4b4747b7ea977b84e981643e62780395",
    "w_robots_gate" -> "58f6997f7635937305e61c993afe8411101d8974630f99e972cd9ae1e3a10d11",
    "w_robots_txt" -> "fd4c5d69dba06f8dca834cd9103a969de15608a865357e8996d102fa371231d8",
    "w_sitemap" -> "4383a7f80178984019134886855c56dfaa48b06948accb7f563e28030806a229",
    "w_sitemap_index" -> "59ac8968e9a92a480d85b66c3d6f152fab7fd7242890f4abb810f701f066e3ab",
    "w_template_fp" -> "33928dc28c34055c67297248607de420e18bef4d3a66043660c78720f3c3b0e4",
    "w_url_canon" -> "ab2c2ff36d5aca82c733a1bacccb6ebc1025f036b1a070a76871afd8d7969552",
    "w_url_features" -> "eed801b28309482360fa619a8b58adcf03794458ae2e9bb87e1d0ec2e9d4499a",
    "w_url_revisions" -> "9d063096e81c523b5ed1463509e015da6e27ae865aacb4374e18bf923e6d28a9"
  )

  private def sha256(s: String): String =
    MessageDigest.getInstance("SHA-256").digest(s.getBytes(UTF_8)).map(b => f"$b%02x").mkString

  test("the registry holds the 154 gated queries, 148 of them oracle-paired") {
    assert(SparkEntry.gated.size == 154)
    assert(SparkEntry.queries.keySet == OracleSha256.keySet ++ OracleFree)
    assert(SparkEntry.oracleSql.keySet == OracleSha256.keySet)
    assert(SparkEntry.gated.filter(_.oracle.isEmpty).map(_.name).toSet == OracleFree)
  }

  test("every oracle string is byte-identical to its pinned sha256") {
    val changed = SparkEntry.oracleSql.collect { case (n, sql) if sha256(sql) != OracleSha256(n) => n }
    assert(changed.isEmpty, s"oracle strings changed: ${changed.toSeq.sorted.mkString(", ")}")
  }

  test("a duplicate query name fails when the registry is built") {
    val g = SparkEntry.gated.head
    val e = intercept[IllegalArgumentException](SparkEntry.unique(SparkEntry.gated :+ g.copy(oracle = None)))
    assert(e.getMessage.contains(g.name))
  }
}
